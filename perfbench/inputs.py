"""Seeded input generators for the benchmark.

Everything the program under test sees is made here from ``--seed``:
the same seed gives byte-identical files, another seed different ones.

* :func:`write_star` — the star-schema fixture tables (the names,
  columns and types the registered queries and their DuckDB oracles are
  written against), at a chosen scale;
* :func:`write_corpus` — a documents/embeddings corpus, written as a
  small base fixture and scaled ×``factor`` by ``tools/gen_sf.py`` (the
  repo's own decorrelating scale-up);
* :class:`SyncStream` — the five Bitcoin jobs' remote state, advanced
  one day per incremental sync with seeded late corrections inside the
  re-pulled lookback window.
"""

from __future__ import annotations

import datetime as dt
import json
import shutil
import subprocess
import sys
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPO = Path(__file__).resolve().parents[1]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "red", "small", "big", "green", "dark"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "de", "es", "fr", "zh"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
STAR_TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events",
]
EPOCH = dt.datetime(1970, 1, 1)


def _us(d: dt.datetime) -> int:
    return (d - EPOCH) // dt.timedelta(microseconds=1)


def _write(dirpath: Path, name: str, cols: dict[str, pa.Array]) -> None:
    pq.write_table(pa.table(cols), dirpath / f"{name}.parquet")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def write_star(dirpath: Path, seed: int, sf: float) -> None:
    """Region/nation/customer/supplier/part/orders/lineitem/events at
    scale ``sf`` (sf 0.01 ≈ 60k lineitem rows, as in the fixtures)."""
    dirpath.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    i32, i64, f64, ts = pa.int32(), pa.int64(), pa.float64(), pa.timestamp("us")
    _write(dirpath, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(REGIONS),
    })
    _write(dirpath, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    n_cust = max(50, int(150_000 * sf))
    _write(dirpath, "customer", {
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust), f64),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust)),
    })
    n_supp = max(10, int(10_000 * sf))
    _write(dirpath, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp), f64),
    })
    n_part = max(50, int(200_000 * sf))
    retail = np.round(rng.uniform(900.0, 999.9, n_part), 1)
    _write(dirpath, "part", {
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": pa.array(
            [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                        rng.choice(PART_NOUN, n_part))]
        ),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(retail, f64),
    })
    n_ord = max(100, int(1_500_000 * sf))
    day0 = _us(dt.datetime(1995, 1, 1))
    day_us = 86_400_000_000
    odays = rng.integers(0, 2404, n_ord)
    _write(dirpath, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord), f64),
        "o_orderdate": pa.array(day0 + odays * day_us, ts),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord)),
    })
    # lines per order as in the fixtures: mean about 4 with a tail past
    # 10, so that TPC-H Q18's orders of more than 300 units exist
    lines = rng.poisson(3.07, n_ord) + 1
    n_li = int(lines.sum())
    l_order = np.repeat(np.arange(n_ord), lines)
    l_num = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    l_part = rng.integers(0, n_part, n_li)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    _write(dirpath, "lineitem", {
        "l_orderkey": pa.array(l_order, i64),
        "l_partkey": pa.array(l_part, i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(l_num, i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(np.round(qty * retail[l_part], 2), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
        "l_shipdate": pa.array(
            day0 + (odays[l_order] + rng.integers(1, 122, n_li)) * day_us, ts
        ),
    })
    n_ev = max(100, int(1_000_000 * sf))
    ev_ts = _us(dt.datetime(2024, 1, 1)) + rng.integers(0, 30 * day_us, n_ev)
    _write(dirpath, "events", {
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ev_ts, ts),
        "user_id": pa.array(rng.integers(0, max(10, n_ev // 70), n_ev), i64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev) + 0.01, 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })


def _documents(rng: np.random.Generator, n_docs: int) -> dict[str, pa.Array]:
    """Random-vocabulary documents; about one in twenty is a near-dup
    (a prefix of an earlier document plus a ``dup`` token) and a few
    are exact copies, so the dedup kernels have work to find."""
    texts: list[str] = []
    for i in range(n_docs):
        kind = rng.random()
        if i > 10 and kind < 0.05:
            src = texts[int(rng.integers(0, i))].split()
            keep = max(3, int(len(src) * rng.uniform(0.8, 1.0)))
            texts.append(" ".join(src[:keep] + ["dup"]))
        elif i > 10 and kind < 0.06:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            n_words = int(rng.integers(8, 100))
            texts.append(" ".join(rng.choice(VOCAB, n_words)))
    return {
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n_docs)),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def _embeddings(rng: np.random.Generator, n_vecs: int) -> dict[str, pa.Array]:
    """Unit 64-d float vectors around ten label centroids."""
    centres = rng.normal(size=(10, 64))
    labels = rng.integers(0, 10, n_vecs)
    vecs = centres[labels] * 0.5 + rng.normal(size=(n_vecs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, n_vecs * 64 + 1, 64), pa.int32())
    return {
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(labels, pa.int32()),
    }


def write_corpus(
    dirpath: Path, seed: int, n_docs: int, n_vecs: int, factor: int
) -> None:
    """Base documents/embeddings of ``n_docs``/``n_vecs`` rows scaled
    ×``factor`` by ``tools/gen_sf.py --tables documents,embeddings``
    into ``dirpath``.  Only those two tables land there: the star
    tables the scale-up reads for its key strides stay in a base
    directory that is removed afterwards."""
    base = dirpath / "base"
    write_star(base, seed, 0.001)
    rng = np.random.default_rng([seed, 2])
    _write(base, "documents", _documents(rng, n_docs))
    _write(base, "embeddings", _embeddings(rng, n_vecs))
    subprocess.run(
        [sys.executable, str(REPO / "tools" / "gen_sf.py"), str(base),
         str(dirpath), str(factor), "--tables", "documents,embeddings"],
        check=True, stdout=subprocess.DEVNULL,
    )
    shutil.rmtree(base)


#: the reference's five jobs (examples/bitcoin_warehouse_demo.py): job
#: name → remote query id
QUERY_IDS = {
    "bitcoin_inputs": 2177353,
    "bitcoin_output": 2177447,
    "prices_usd": 5816212,
    "bitcoin_transactions": 2177280,
    "bitcoin_block": 2177266,
}


class SyncStream:
    """The remote side of the five Bitcoin jobs, one day per sync.

    ``initial()`` is the full history a first (full-refresh) sync pulls.
    Each ``advance()`` appends one day of blocks and rewrites a seeded
    handful of rows dated inside the ``lookback_days`` window (a fee,
    an amount, an address, a day's price): late corrections that only a
    re-pull of that window delivers.  ``batch()`` is what the remote
    query returns for the current watermark ``since`` — the rows dated
    after it, with their latest values.
    """

    START = dt.date(2025, 1, 1)

    def __init__(
        self,
        seed: int,
        history_days: int,
        blocks_per_day: int,
        tx_per_block: int,
        lookback_days: int,
        corrections: int,
    ) -> None:
        self.rng = np.random.default_rng([seed, 3])
        self.blocks_per_day = blocks_per_day
        self.tx_per_block = tx_per_block
        self.lookback_days = lookback_days
        self.corrections = corrections
        #: qid -> key -> row (insertion order = date order)
        self.state: dict[int, dict[str, dict]] = {q: {} for q in QUERY_IDS.values()}
        self.days = 0
        for _ in range(history_days):
            self._add_day()

    def _add_day(self) -> None:
        rng, day = self.rng, str(self.START + dt.timedelta(days=self.days))
        s = self.state
        s[5816212][day] = {"date": day, "price": round(float(rng.uniform(30_000, 90_000)), 2)}
        for b in range(self.blocks_per_day):
            height = self.days * self.blocks_per_day + b
            bh = f"blk{height:07d}"
            fees = 0.0
            for t in range(self.tx_per_block):
                txid = f"tx{height:07d}_{t:03d}"
                fee = round(float(rng.uniform(0.00001, 0.001)), 8)
                amount = round(float(rng.uniform(0.01, 50.0)), 8)
                fees += fee
                s[2177280][txid] = {
                    "id": txid,
                    "block_time": f"{day}T{int(rng.integers(0, 24)):02d}:{int(rng.integers(0, 60)):02d}:00",
                    "block_hash": bh,
                    "fee": fee,
                    "input_value": amount,
                    "output_value": round(amount - fee, 8),
                    "date": day,
                }
                for qid in (2177353, 2177447):
                    s[qid][txid] = {
                        "tx_id": txid,
                        "address": f"addr{int(rng.integers(0, 500))}",
                        "value": amount,
                        "entity": ["miner", "exchange", "user"][int(rng.integers(0, 3))],
                        "date": day,
                    }
            s[2177266][bh] = {
                "hash": bh,
                "height": height,
                "previous_block_hash": f"blk{height - 1:07d}" if height else None,
                "total_fees": round(fees, 8),
                "transaction_count": self.tx_per_block,
                "date": day,
            }
        self.days += 1

    @property
    def since(self) -> str:
        """The lookback watermark: rows dated after it are re-pulled."""
        return str(self.START + dt.timedelta(days=self.days - 1 - self.lookback_days))

    def advance(self) -> None:
        """One new day, then late corrections inside the lookback window."""
        self._add_day()
        rng, since = self.rng, self.since
        window = {
            qid: [k for k, r in rows.items() if r["date"] > since]
            for qid, rows in self.state.items()
        }
        for _ in range(self.corrections):
            qid = list(QUERY_IDS.values())[int(rng.integers(0, 5))]
            keys = window[qid]
            row = self.state[qid][keys[int(rng.integers(0, len(keys)))]]
            if qid == 5816212:
                row["price"] = round(row["price"] * float(rng.uniform(0.98, 1.02)), 2)
            elif qid == 2177280:
                row["fee"] = round(float(rng.uniform(0.00001, 0.001)), 8)
                row["output_value"] = round(row["input_value"] - row["fee"], 8)
            elif qid == 2177266:
                row["total_fees"] = round(row["total_fees"] * float(rng.uniform(0.9, 1.1)), 8)
            else:
                row["address"] = f"addr{int(rng.integers(0, 500))}"
                row["value"] = round(row["value"] * float(rng.uniform(0.9, 1.1)), 8)

    def batch(self, since: str | None) -> dict[int, list[dict]]:
        """Per query id, the rows the remote query returns after ``since``
        (everything when ``since`` is None)."""
        return {
            qid: [dict(r) for r in rows.values() if since is None or r["date"] > since]
            for qid, rows in self.state.items()
        }


def record_responses(dirpath: Path, batch: dict[int, list[dict]]) -> int:
    """Write one ``{query_id}.json`` per job in the remote API's shape;
    returns the bytes written."""
    dirpath.mkdir(parents=True, exist_ok=True)
    written = 0
    for qid, rows in batch.items():
        written += (dirpath / f"{qid}.json").write_text(json.dumps({"result": {"rows": rows}}))
    return written
