"""Seeded input generators for the benchmark workloads.

Every table is a pure function of ``(seed, scale)``: the same seed gives
byte-identical parquet. The seed decides what the rows hold; how much
work they make (the key skew of the events, the lengths of the
documents) is the same for every seed, so runs with different seeds
measure the same amount of work. Schemas follow the engine's test tables (the
TPC-H-style star schema plus ``events``, ``documents`` and
``embeddings``), so every registered query and its DuckDB oracle run on
them unchanged. Generation is vectorised numpy; at the benchmark's scale
it takes about a second.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "the and of is a to in it or an el la de que los una der und die das "
    "ein le et les des un pour join filter window stream batch merge sort "
    "hash scan table row column key value query plan spark data part order "
    "line customer supplier fast slow big small dup agg group movie scene "
    "night city river love fear joy anger surprise sadness"
).split()
BOILERPLATE = [
    "subscribe to our channel for more content",
    "this transcript was generated automatically",
    "copyright all rights reserved worldwide",
]
SPEAKERS = ["JOHN", "MARY", "NARRATOR", "Bob"]
FILLERS = ["um", "uh", "hmm", "like", "okay"]
EVENT_TYPES = np.array(["view", "click", "purchase", "signup", "error"])
DIM = 64
N_CLUSTERS = 10


def _ts_us(base: str, offsets_us: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us").astype(np.int64)
    return pa.array((start + offsets_us).astype("datetime64[us]"))


def _names(prefix: str, ids: np.ndarray) -> np.ndarray:
    return np.char.add(prefix, np.char.zfill(ids.astype(str), 9))


def tpch_tables(rng: np.random.Generator, scale: float) -> dict[str, pa.Table]:
    """Star schema at ``scale`` (1.0 ~ 6M lineitem rows); Zipf-skewed
    order customers and part keys."""
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    n_supp = max(10, int(10_000 * scale))
    s_ids = np.arange(n_supp, dtype=np.int64)
    t["supplier"] = pa.table({
        "s_suppkey": s_ids,
        "s_name": _names("Supplier#", s_ids),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999, 9999, n_supp), 2),
    })
    n_cust = max(10, int(150_000 * scale))
    c_ids = np.arange(n_cust, dtype=np.int64)
    segs = np.array(["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD",
                     "FURNITURE"])
    t["customer"] = pa.table({
        "c_custkey": c_ids,
        "c_name": _names("Customer#", c_ids),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)],
    })
    n_part = max(10, int(200_000 * scale))
    p_ids = np.arange(n_part, dtype=np.int64)
    adjs = np.array(["cold", "small", "large", "dim", "hot", "plain"])
    nouns = np.array(["widget", "bolt", "gear", "cog", "spring"])
    types = np.array(["ECONOMY", "PROMO", "STANDARD", "SMALL", "LARGE"])
    t["part"] = pa.table({
        "p_partkey": p_ids,
        "p_name": np.char.add(
            np.char.add(adjs[rng.integers(0, 6, n_part)], " "),
            nouns[rng.integers(0, 5, n_part)],
        ),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": types[rng.integers(0, 5, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (p_ids % 37) / 10, 2),
    })
    n_ord = max(10, int(1_500_000 * scale))
    o_ids = np.arange(n_ord, dtype=np.int64)
    span_us = int(6.5 * 365 * 86400) * 1_000_000
    o_off = rng.integers(0, span_us, n_ord)
    o_off[::3] -= o_off[::3] % (86400 * 1_000_000)  # midnight dates
    prios = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                      "5-LOW"])
    t["orders"] = pa.table({
        "o_orderkey": o_ids,
        "o_custkey": np.minimum(rng.zipf(1.3, n_ord) - 1, n_cust - 1),
        "o_orderstatus": np.array(["P", "O", "F"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1, 500_000, n_ord), 2),
        "o_orderdate": _ts_us("1995-01-01", o_off),
        "o_orderpriority": prios[rng.integers(0, 5, n_ord)],
    })
    per_order = rng.integers(1, 8, n_ord)
    l_ord = np.repeat(o_ids, per_order)
    n_li = len(l_ord)
    starts = np.cumsum(per_order) - per_order
    line_no = np.arange(n_li) - np.repeat(starts, per_order) + 1
    qty = rng.integers(0, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": l_ord,
        "l_partkey": np.minimum(rng.zipf(1.4, n_li) - 1, n_part - 1),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": line_no.astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900 + (line_no % 37) / 10), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100,
        "l_tax": rng.integers(0, 9, n_li) / 100,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts_us(
            "1995-01-01",
            o_off[l_ord] + rng.integers(0, 121, n_li) * 86400 * 1_000_000,
        ),
    })
    return t


def zipf_counts(n: int, n_keys: int, a: float) -> np.ndarray:
    """How many of ``n`` items each of ``n_keys`` ranks gets under
    Zipf(``a``), rounded to sum to ``n``; rank 0 is the hottest."""
    w = 1.0 / np.arange(1, n_keys + 1) ** a
    counts = np.floor(n * w / w.sum()).astype(np.int64)
    counts[: n - counts.sum()] += 1
    return counts


def events_table(rng: np.random.Generator, n_events: int, n_users: int,
                 zipf_a: float = 1.4) -> pa.Table:
    """Event stream over 30 days. User ids are Zipf(``zipf_a``) with
    exact, seed-independent counts: at the default 1.4 about a third of
    all events belong to user 0, the skew that sets the per-key state
    size of the stream join. The seed shuffles which events they are."""
    users = rng.permutation(
        np.repeat(np.arange(n_users), zipf_counts(n_events, n_users, zipf_a)))
    kinds = np.minimum(rng.zipf(1.6, n_events) - 1, 4)
    return pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": _ts_us("2024-01-01",
                     rng.integers(0, 30 * 86400 * 1_000_000, n_events)),
        "user_id": users.astype(np.int64),
        "event_type": EVENT_TYPES[kinds],
        "value": np.round(rng.uniform(0, 1000, n_events), 2),
        "props": np.char.add(
            np.char.add('{"k": ', rng.integers(0, 100, n_events).astype(str)),
            "}",
        ),
    })


def _soup(rng: np.random.Generator, n_tokens: int) -> str:
    return " ".join(rng.choice(VOCAB, size=max(n_tokens, 1)))


def _subtitles(rng: np.random.Generator) -> str:
    """An SRT-style block list carrying the artifacts the cleaning chain
    removes: timestamps, tags, bracketed directions, speakers, fillers."""
    lines = []
    for i in range(int(rng.integers(3, 8))):
        t0 = int(rng.integers(0, 5400))
        lines.append(str(i + 1))
        lines.append(f"00:{t0 // 60:02d}:{t0 % 60:02d},{int(rng.integers(0, 999)):03d}"
                     f" --> 00:{t0 // 60:02d}:{t0 % 60 + 1:02d},000")
        text = _soup(rng, int(rng.integers(6, 16)))
        deco = int(rng.integers(0, 5))
        if deco == 0:
            text = f"<i>{text}</i>"
        elif deco == 1:
            text = f"[{rng.choice(['MUSIC', 'APPLAUSE'])}] {text}"
        elif deco == 2:
            text = f"{rng.choice(SPEAKERS)}: {text}"
        elif deco == 3:
            text = f"{rng.choice(FILLERS)}, {text}..."
        lines.append(text)
        lines.append("")
    return "\n".join(lines)


def documents_table(rng: np.random.Generator, n_docs: int) -> pa.Table:
    """Subtitle-like corpus with planted near-duplicate pairs (two tokens
    swapped), shared boilerplate lines and no exact duplicates. The
    lengths of the plain documents (Zipf, capped at 600 tokens) are the
    same for every seed."""
    lengths = np.minimum(np.random.default_rng(0).zipf(1.6, n_docs) * 20, 600)
    texts: list[str] = []
    seen: set[str] = set()
    for i in range(n_docs):
        if i % 20 == 11:  # near-duplicate of the previous document
            toks = texts[-1].split(" ")
            for _ in range(2):
                toks[int(rng.integers(0, len(toks)))] = str(rng.choice(VOCAB))
            text = " ".join(toks)
        elif i % 3 == 0:
            text = _subtitles(rng)
        elif i % 10 == 4:
            text = (f"{rng.choice(BOILERPLATE)}. "
                    f"{_soup(rng, int(rng.integers(20, 60)))}. "
                    f"{rng.choice(BOILERPLATE)}.")
        else:
            text = _soup(rng, int(lengths[i]))
        while text in seen:
            text += " " + str(rng.choice(VOCAB))
        seen.add(text)
        texts.append(text)
    langs = np.array(["en", "en", "en", "es", "de", "fr"])
    return pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n_docs)],
        "source": np.char.add("src", rng.integers(0, 20, n_docs).astype(str)),
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })


def cluster_centers(seed: int, n: int = N_CLUSTERS + 1) -> np.ndarray:
    """Unit cluster centres; the last one is reserved for vectors that
    arrive after the indexes are built."""
    c = np.random.default_rng(seed).normal(size=(n, DIM))
    return c / np.linalg.norm(c, axis=1, keepdims=True)


def clustered_vectors(rng: np.random.Generator, centers: np.ndarray,
                      labels: np.ndarray) -> np.ndarray:
    v = centers[labels] * 0.95 + rng.normal(size=(len(labels), DIM)) * 0.05
    return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)


def embeddings_table(rng: np.random.Generator, n_vecs: int,
                     centers: np.ndarray) -> pa.Table:
    labels = rng.integers(0, N_CLUSTERS, n_vecs)
    vecs = clustered_vectors(rng, centers, labels)
    return pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            vecs.reshape(-1), DIM).cast(pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


def engine_tables(seed: int, scale: float, n_events: int, n_docs: int,
                  n_vecs: int) -> dict[str, pa.Table]:
    """All ten engine tables from one seed."""
    rng = np.random.default_rng(seed)
    tables = tpch_tables(rng, scale)
    n_users = tables["customer"].num_rows
    tables["events"] = events_table(rng, n_events, n_users)
    tables["documents"] = documents_table(rng, n_docs)
    tables["embeddings"] = embeddings_table(rng, n_vecs, cluster_centers(seed))
    return tables
