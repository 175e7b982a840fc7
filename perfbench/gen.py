"""Seeded input generator for the benchmark.

Kept apart from the system under test: it imports nothing from the
engine and writes only plain files (JSON-lines landing files, parquet
tables). The engine receives those files and nothing else. Every input
is a pure function of the seed, so one seed always yields byte-identical
files, and a manifest records what a correct pipeline must produce.

Two families of inputs:

* ``IngestFeed``: landing files for the streaming path. Both Helius
  document shapes (a bare JSON array of transactions, and a
  metadata-wrapped object), websocket messages, 0-3 token transfers per
  transaction, about 20 % byte-identical redeliveries within and across
  cycles, dirty numeric strings, and Zipf-skewed mint popularity whose
  head is the three excluded quote mints.
* ``write_tables``: the ten relational and corpus tables the query mix
  reads, with the value domains of the engine's fixture tables.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Quote mints the gold table leaves out (wSOL, USDT, USDC). They are
#: the most popular mints of every feed, as on chain.
EXCLUDED_MINTS = (
    "So11111111111111111111111111111111111111112",
    "Es9vMFrzaCERmJfrF4H2FYD4KCoNkY11McCe8BenwNYB",
    "EPjFWdd5AufqSSqeM2qN1xzybapC8G4wEGGkZwyTDt1v",
)

_B58 = "123456789ABCDEFGHJKLMNPQRSTUVWXYZabcdefghijkmnopqrstuvwxyz"
_EPOCH = 1_700_000_000  # first block time of every feed

# Feed proportions. None is measured from chain data: each is an
# unverified assumption, chosen so that every batch runs every branch of
# the ingest path (see perfbench/README.md, "Where the numbers come from").
N_MINTS = 2000  # distinct mints, the three quote mints included
ZIPF_S = 1.1  # mint popularity ~ 1 / rank ** ZIPF_S
REDELIVERY_SHARE = 0.2  # byte-identical copies of an earlier line
WS_SHARE = 1 / 3  # websocket messages among new lines; the rest are Helius documents
WRAPPED_SHARE = 0.5  # metadata-wrapped Helius documents; the rest are bare arrays
#: dirty token amounts: thousands separator, number sent as a string,
#: unparseable; cumulative shares of all amounts
DIRTY_CUM = (0.05, 0.08, 0.09)


def _b58(rng: random.Random, n: int) -> str:
    return "".join(rng.choices(_B58, k=n))


def _zipf_cum_weights(n: int) -> list[float]:
    """Cumulative weights for drawing 0..n-1 with probability ~ 1/(i+1)^ZIPF_S."""
    return list(itertools.accumulate(1.0 / (i + 1) ** ZIPF_S for i in range(n)))


def _mints(rng: random.Random, n: int) -> list[str]:
    return list(EXCLUDED_MINTS) + [_b58(rng, 44) for _ in range(n - len(EXCLUDED_MINTS))]


def _amount(rng: random.Random):
    """A token amount, sometimes as a dirty string the parser must reject."""
    value = round(rng.lognormvariate(3.0, 2.0), 6)
    roll = rng.random()
    if roll < DIRTY_CUM[0]:
        return f"{value:,.2f}"  # thousands separator
    if roll < DIRTY_CUM[1]:
        return str(value)  # number sent as a string
    if roll < DIRTY_CUM[2]:
        return "NaN?"
    return value


class IngestFeed:
    """Landing files for the ``pipeline`` workload, one batch at a time.

    Each ``batch`` call yields the next batch; the first is the backlog
    drained during set-up. ``expected`` holds the
    distinct (mint, signature) keys every batch so far must leave in
    silver, computed from the documents' own fields with the pipeline's
    rules: a transfer's mint (else the wrapped document's mint, else
    ""), and ``ws:<sha256 of the line>`` for websocket messages.
    """

    def __init__(self, seed: int):
        self._rng = random.Random(f"ingest-{seed}")
        self.mints = _mints(self._rng, N_MINTS)
        self._cum = _zipf_cum_weights(N_MINTS)
        self._accounts = [_b58(self._rng, 44) for _ in range(5000)]
        self._names = {m: (f"Token{i}", f"TK{i}") for i, m in enumerate(self.mints)}
        self._prev_lines: list[tuple[str, str]] = []  # (kind, line) of the last batch
        self._slot = 250_000_000
        self._seq = 0
        self.expected: set[tuple[str, str]] = set()
        self.batch_first_time = 0  # block time of the last batch's first new transaction

    def _mint(self) -> str:
        return self._rng.choices(self.mints, cum_weights=self._cum)[0]

    def hot_mint(self, rng: random.Random) -> str:
        """A Zipf-chosen, non-excluded mint for a ``token_detail`` view,
        drawn from the caller's own ``rng``."""
        while True:
            m = rng.choices(self.mints, cum_weights=self._cum)[0]
            if m not in EXCLUDED_MINTS:
                return m

    def _transaction(self, wrapped_mint: str | None) -> tuple[dict, set]:
        rng = self._rng
        self._slot += rng.randint(1, 4)
        sig = _b58(rng, 64)
        n_transfers = rng.choice((0, 1, 1, 2, 2, 3))
        transfers = []
        for _ in range(n_transfers):
            mint = wrapped_mint if wrapped_mint and rng.random() < 0.8 else self._mint()
            transfers.append(
                {
                    "fromUserAccount": rng.choice(self._accounts),
                    "toUserAccount": rng.choice(self._accounts),
                    "tokenAmount": _amount(rng),
                    "mint": mint,
                    "tokenStandard": "Fungible",
                }
            )
        tx = {
            "signature": sig,
            "slot": self._slot,
            "type": rng.choice(("SWAP", "SWAP", "TRANSFER", "UNKNOWN")),
            "source": rng.choice(("RAYDIUM", "JUPITER", "PUMP_FUN", "SYSTEM_PROGRAM")),
            "description": "",
            "tokenTransfers": transfers,
        }
        time_field = "timestamp" if wrapped_mint else "blockTime"
        tx[time_field] = _EPOCH + self._slot - 250_000_000
        fee = rng.choice((5000, 5000, 10000, "5000"))  # dirty numeric string
        if wrapped_mint:
            tx["fee"] = fee
            tx["feePayer"] = rng.choice(self._accounts)
        else:
            tx["meta"] = {"fee": fee}
            tx["transaction"] = {"message": {"accountKeys": [rng.choice(self._accounts)]}}
        fallback = wrapped_mint or ""
        keys = {(t["mint"], sig) for t in transfers} or {(fallback, sig)}
        return tx, keys

    def _helius_doc(self) -> tuple[str, set]:
        rng = self._rng
        keys: set = set()
        txs = []
        wrapped = rng.random() < WRAPPED_SHARE
        mint = self._mint() if wrapped else None
        for _ in range(rng.randint(1, 3)):
            tx, k = self._transaction(mint)
            txs.append(tx)
            keys |= k
        if wrapped:
            name, symbol = self._names[mint]
            doc = {"metadata": {"token_name": name, "token_symbol": symbol, "mint": mint}, "transactions": txs}
        else:
            doc = txs
        return json.dumps(doc, separators=(",", ":")), keys

    def _ws_message(self) -> tuple[str, set]:
        rng = self._rng
        mint = self._mint()
        name, symbol = self._names[mint]
        self._seq += 1
        msg = {
            "mint": mint,
            "txType": rng.choice(("buy", "sell", "create")),
            "solAmount": _amount(rng),
            "name": name,
            "symbol": symbol,
            "seq": self._seq,  # extra field: makes every message distinct
        }
        line = json.dumps(msg, separators=(",", ":"))
        return line, {(mint, "ws:" + hashlib.sha256(line.encode()).hexdigest())}

    def batch(self, n_docs: int, n_files: int) -> dict[str, list[list[str]]]:
        """``n_docs`` landed documents and messages (``WS_SHARE`` of the
        new ones websocket messages, ``REDELIVERY_SHARE`` redeliveries), split into
        ``n_files`` files per kind. Returns {kind: [lines of each file]}."""
        rng = self._rng
        lines: list[tuple[str, str]] = []
        self.batch_first_time = _EPOCH + self._slot - 250_000_000 + 1
        for _ in range(n_docs):
            n_pool = len(lines) + len(self._prev_lines)
            if n_pool and rng.random() < REDELIVERY_SHARE:
                pick = rng.randrange(n_pool)
                lines.append(lines[pick] if pick < len(lines) else self._prev_lines[pick - len(lines)])
                continue
            if rng.random() < WS_SHARE:
                line, keys = self._ws_message()
                lines.append(("ws", line))
            else:
                line, keys = self._helius_doc()
                lines.append(("helius", line))
            self.expected |= keys
        rng.shuffle(lines)
        self._prev_lines = lines
        out: dict[str, list[list[str]]] = {"helius": [], "ws": []}
        for kind in out:
            mine = [line for k, line in lines if k == kind]
            step = -(-len(mine) // n_files) if mine else 1
            out[kind] = [mine[i : i + step] for i in range(0, len(mine), step)]
        return out

    def manifest(self) -> dict:
        mints = {m for m, _ in self.expected}
        digest = hashlib.sha256("\n".join(f"{m}\t{s}" for m, s in sorted(self.expected)).encode())
        return {
            "keys": len(self.expected),
            "keys_sha256": digest.hexdigest(),
            "mints": len(mints),
            "gold_mints": len(mints - set(EXCLUDED_MINTS)),
        }

    def write_manifest(self, path: str) -> dict:
        manifest = self.manifest()
        with open(path, "w") as fh:
            json.dump(manifest, fh, indent=1, sort_keys=True)
        return manifest


def write_landing(batch: dict[str, list[list[str]]], landing_root: str, tag: str) -> tuple[int, int]:
    """Write one batch under ``landing_root/<kind>/``; each file is
    written to a dot-name first and renamed, so a file source never
    sees it half-written. Returns (files, bytes)."""
    n_files = n_bytes = 0
    for kind, files in batch.items():
        folder = os.path.join(landing_root, kind)
        os.makedirs(folder, exist_ok=True)
        for i, file_lines in enumerate(files):
            data = ("\n".join(file_lines) + "\n").encode()
            final = os.path.join(folder, f"{tag}-{i:03d}.json")
            tmp = os.path.join(folder, f".{tag}-{i:03d}.tmp")
            with open(tmp, "wb") as fh:
                fh.write(data)
            os.replace(tmp, final)
            n_files += 1
            n_bytes += len(data)
    return n_files, n_bytes


# -- relational and corpus tables -------------------------------------------

_WORDS = (
    "a the data row column table key value part line order customer query "
    "scan filter join hash merge sort group agg window stream batch spark "
    "vector big small fast slow"
).split()


def _doc_text(rng: random.Random) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(rng.randint(10, 90)))


def write_tables(seed: int, out_dir: str, scale: float) -> dict[str, int]:
    """Write the ten query-mix tables as ``<out_dir>/<name>.parquet``.

    ``scale`` follows the fixture convention: lineitem has about
    6 000 000 × scale rows. Returns {table: rows}.
    """
    rng = random.Random(f"tables-{seed}")
    g = np.random.default_rng(rng.getrandbits(63))
    os.makedirs(out_dir, exist_ok=True)
    n_cust = int(150_000 * scale)
    n_supp = max(10, int(10_000 * scale))
    n_part = int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    n_events = int(1_000_000 * scale)
    n_docs = max(500, int(50_000 * scale))
    n_vecs = max(500, int(20_000 * scale))

    def segments(n: int) -> np.ndarray:
        return np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], dtype=object)[
            g.integers(0, 5, n)
        ]

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(g.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(g.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": segments(n_cust),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(g.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(g.uniform(-999.99, 9999.99, n_supp), 2),
        }
    )
    adjectives = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    nouns = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    retail = np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2)
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": [f"{adjectives[a]} {nouns[b]}" for a, b in zip(g.integers(0, 8, n_part), g.integers(0, 8, n_part))],
            "p_brand": [f"Brand#{b}" for b in g.integers(1, 26, n_part)],
            "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], dtype=object)[
                g.integers(0, 6, n_part)
            ],
            "p_size": pa.array(g.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": retail,
        }
    )
    day0 = np.datetime64("1995-01-01", "us")
    order_days = g.integers(0, 2404, n_ord)  # through 2001-08-01
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(g.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": np.array(["F", "O", "P"], dtype=object)[g.integers(0, 3, n_ord)],
            "o_totalprice": np.round(g.uniform(1000.0, 500000.0, n_ord), 2),
            "o_orderdate": pa.array(day0 + order_days.astype("timedelta64[D]"), pa.timestamp("us")),
            "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], dtype=object)[
                g.integers(0, 5, n_ord)
            ],
        }
    )
    lines_per = g.integers(1, 8, n_ord)
    l_order = np.repeat(np.arange(n_ord), lines_per)
    n_line = len(l_order)
    starts = np.cumsum(lines_per) - lines_per
    l_number = np.arange(n_line) - np.repeat(starts, lines_per) + 1
    l_part = g.integers(0, n_part, n_line)
    qty = g.integers(1, 51, n_line).astype(np.float64)
    ship = day0 + (order_days[l_order] + g.integers(1, 122, n_line)).astype("timedelta64[D]")
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(l_order, pa.int64()),
            "l_partkey": pa.array(l_part, pa.int64()),
            "l_suppkey": pa.array(g.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(l_number, pa.int32()),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * retail[l_part] * g.uniform(0.98, 1.02, n_line), 2),
            "l_discount": np.round(g.integers(0, 11, n_line) / 100.0, 2),
            "l_tax": np.round(g.integers(0, 9, n_line) / 100.0, 2),
            "l_returnflag": np.array(["A", "N", "R"], dtype=object)[g.integers(0, 3, n_line)],
            "l_linestatus": np.array(["F", "O"], dtype=object)[g.integers(0, 2, n_line)],
            "l_shipdate": pa.array(ship, pa.timestamp("us")),
        }
    )
    ev_ts = np.datetime64("2024-01-01", "us") + np.sort(g.integers(0, 30 * 86_400_000_000, n_events)).astype(
        "timedelta64[us]"
    )
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_events), pa.int64()),
            "ts": pa.array(ev_ts, pa.timestamp("us")),
            "user_id": pa.array(g.integers(0, max(150, n_events // 66), n_events), pa.int64()),
            "event_type": np.array(["click", "error", "purchase", "signup", "view"], dtype=object)[
                g.integers(0, 5, n_events)
            ],
            "value": np.round(g.exponential(40.0, n_events) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, n_events)],
        }
    )
    texts: list[str] = []
    for i in range(n_docs):
        if texts and rng.random() < 0.05:
            # planted near-duplicate, as in the fixture tables: a copy with
            # one word appended, so its 3-gram Jaccard to the original is
            # >= 0.89 (the similarity gap the LSH queries document)
            texts.append(rng.choice(texts) + " dup")
        else:
            texts.append(_doc_text(rng))
    tables["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs), pa.int64()),
            "text": texts,
            "lang": np.array(["de", "en", "es", "fr", "zh"], dtype=object)[g.integers(0, 5, n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    centroids = g.normal(0.0, 1.0, (10, 64))
    labels = g.integers(0, 10, n_vecs)
    vecs = centroids[labels] + g.normal(0.0, 0.7, (n_vecs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
