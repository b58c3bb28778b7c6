"""Seeded input generators for the benchmark.

Every input the engine sees is written here as Parquet with pyarrow,
never through engine code, and is a pure function of the seed.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def write_atomic(table: pa.Table, staging_dir: str, final_path: str) -> None:
    """Write next to the watched directory, then rename in, so the file
    source never lists a half-written file."""
    tmp = os.path.join(staging_dir, os.path.basename(final_path))
    pq.write_table(table, tmp)
    os.replace(tmp, final_path)


# ---------------------------------------------------------------- corpus

VOCAB = [f"w{i:05d}" for i in range(20_000)]
EMB_DIM = 16


def _unique_text(rng: np.random.Generator, n_tokens: int = 40) -> str:
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n_tokens))


def _unit(rng: np.random.Generator) -> list[float]:
    v = rng.normal(size=EMB_DIM)
    return [float(x) for x in v / np.linalg.norm(v)]


CORPUS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("embedding", pa.list_(pa.float64())),
    ]
)

# planted classes of an epoch batch and the tier that must drop them
CLASSES = (
    "unique",          # new text, new vector: kept
    "corpus_exact",    # exact text copy of a base doc: exact tier
    "corpus_near",     # base doc with one token replaced: MinHash tier
    "corpus_border",   # base doc with two tokens replaced: MinHash tier,
                       # at the edge of the LSH banding's recall
    "batch_exact",     # exact text copy of an earlier unique doc of the batch
)

# tokens replaced in a copy of a base doc of 40 tokens, and the 3-shingle
# Jaccard with its source: one token gives about 0.85, where the 16x4
# banding misses a pair with probability 6e-6; two give about 0.73, where
# it misses 0.5 % of pairs
REPLACED = {"corpus_near": 1, "corpus_border": 2}

# share of each planted duplicate class in an epoch (the rest: unique)
SHARES = {"corpus_exact": 0.15, "corpus_near": 0.10, "corpus_border": 0.10,
          "batch_exact": 0.10}


@dataclass
class Corpus:
    seed: int
    base_docs: int
    epoch_docs: int

    def base(self) -> pa.Table:
        rng = np.random.default_rng([self.seed, 2])
        self._base_text = [_unique_text(rng) for _ in range(self.base_docs)]
        self._base_vec = [_unit(rng) for _ in range(self.base_docs)]
        return pa.table(
            {
                "doc_id": list(range(self.base_docs)),
                "text": self._base_text,
                "embedding": self._base_vec,
            },
            schema=CORPUS_SCHEMA,
        )

    def epoch(self, e: int) -> tuple[pa.Table, dict[int, str]]:
        """Batch ``e`` and the planted class of every doc id. Ids are
        disjoint from the base and from other epochs; the original of
        each in-batch duplicate has the smaller id (the engine keeps
        min(id) of a duplicate class)."""
        if not hasattr(self, "_base_text"):
            self.base()
        rng = np.random.default_rng([self.seed, 3, e])
        n = self.epoch_docs
        counts = {k: int(round(v * n)) for k, v in SHARES.items()}
        counts["unique"] = n - sum(counts.values())
        first = 1_000_000 * (e + 1)
        ids, texts, vecs, cls = [], [], [], {}
        uniques = []

        def add(kind, text, vec):
            i = first + len(ids)
            ids.append(i)
            texts.append(text)
            vecs.append(vec)
            cls[i] = kind
            return i

        for _ in range(counts["unique"]):
            t = _unique_text(rng)
            uniques.append(t)
            add("unique", t, _unit(rng))
        for _ in range(counts["batch_exact"]):
            add("batch_exact", uniques[rng.integers(len(uniques))], _unit(rng))
        copied = ("corpus_exact", *REPLACED)
        picks = iter(rng.choice(self.base_docs, sum(counts[c] for c in copied),
                                replace=False))
        for kind in copied:
            for _ in range(counts[kind]):
                toks = self._base_text[next(picks)].split()
                for j in rng.choice(len(toks), REPLACED.get(kind, 0), replace=False):
                    toks[j] = VOCAB[rng.integers(len(VOCAB))]
                add(kind, " ".join(toks), _unit(rng))
        order = rng.permutation(len(ids))  # file row order is seeded too
        table = pa.table(
            {
                "doc_id": [ids[i] for i in order],
                "text": [texts[i] for i in order],
                "embedding": [vecs[i] for i in order],
            },
            schema=CORPUS_SCHEMA,
        )
        return table, cls


# ---------------------------------------------------------- query tables

QUERY_TABLES_SEED = 42  # fixed: the query suite's seed sets only the order


def query_tables(out_dir: str, lineitem_rows: int) -> dict[str, int]:
    """TPC-H-shaped star schema plus events/documents/embeddings with the
    engine's fixture schemas, at ``lineitem_rows`` scale. Written from a
    fixed seed, so every run measures the same data."""
    rng = np.random.default_rng(QUERY_TABLES_SEED)
    sf = lineitem_rows / 6_000_000
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_ev = max(1_000, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    epoch = np.datetime64("1995-01-01", "us")

    def ts_days(lo, hi, n):
        return epoch + (rng.integers(lo, hi, n) * 86_400_000_000).astype(
            "timedelta64[us]"
        )

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    adj = ["blue", "red", "green", "small", "large", "shiny", "black", "tiny"]
    noun = ["anvil", "bolt", "widget", "ring", "gear", "nut", "pipe", "valve"]
    ptypes = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
    prios = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    words = (
        "join hash row batch scan column customer filter small slow merge "
        "order vector line table data agg value key stream window a spark "
        "part group big sort query fast the"
    ).split()
    langs = np.array(["en", "zh", "es", "de", "fr"])
    etypes = np.array(["signup", "error", "click", "view", "purchase"])

    tables = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": regions}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(range(n_cust), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
                "c_mktsegment": [segs[i] for i in rng.integers(0, 5, n_cust)],
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(range(n_supp), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(range(n_part), pa.int64()),
                "p_name": [
                    f"{adj[a]} {noun[b]}"
                    for a, b in zip(rng.integers(0, 8, n_part),
                                    rng.integers(0, 8, n_part))
                ],
                "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
                "p_type": [ptypes[i] for i in rng.integers(0, 6, n_part)],
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": np.round(
                    900.0 + (np.arange(n_part) % 1000) * 0.1, 2
                ),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(range(n_ord), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": [["F", "O", "P"][i] for i in rng.integers(0, 3, n_ord)],
                "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
                "o_orderdate": pa.array(ts_days(0, 2405, n_ord)),
                "o_orderpriority": [prios[i] for i in rng.integers(0, 5, n_ord)],
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, lineitem_rows), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, lineitem_rows), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_supp, lineitem_rows), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, lineitem_rows), pa.int32()),
                "l_quantity": rng.integers(1, 51, lineitem_rows).astype(float),
                "l_extendedprice": np.round(
                    rng.uniform(900.0, 105000.0, lineitem_rows), 2
                ),
                "l_discount": rng.integers(0, 11, lineitem_rows) / 100.0,
                "l_tax": rng.integers(0, 9, lineitem_rows) / 100.0,
                "l_returnflag": [["A", "N", "R"][i] for i in rng.integers(0, 3, lineitem_rows)],
                "l_linestatus": [["F", "O"][i] for i in rng.integers(0, 2, lineitem_rows)],
                "l_shipdate": pa.array(ts_days(1, 2500, lineitem_rows)),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(range(n_ev), pa.int64()),
                "ts": pa.array(
                    np.datetime64("2024-01-01", "us")
                    + np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)).astype(
                        "timedelta64[us]"
                    )
                ),
                "user_id": pa.array(rng.integers(0, n_cust, n_ev), pa.int64()),
                "event_type": etypes[rng.integers(0, 5, n_ev)].tolist(),
                "value": np.round(rng.exponential(50.0, n_ev) + 0.01, 2),
                "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
            }
        ),
    }
    texts = [
        " ".join(words[j] for j in rng.integers(0, len(words), rng.integers(10, 100)))
        for _ in range(n_doc)
    ]
    for i in range(0, n_doc, 20):  # planted duplicates and near-duplicates
        src = texts[rng.integers(n_doc)]
        texts[i] = src if i % 40 == 0 else src + " dup"
    tables["documents"] = pa.table(
        {
            "doc_id": pa.array(range(n_doc), pa.int64()),
            "text": texts,
            "lang": langs[rng.integers(0, 5, n_doc)].tolist(),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    emb = rng.normal(size=(n_doc, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(n_doc), pa.int64()),
            "embedding": pa.array(emb.tolist(), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_doc), pa.int32()),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def query_order(names: list[str], seed: int) -> list[str]:
    rng = np.random.default_rng([seed, 4])
    return [names[i] for i in rng.permutation(len(names))]
