"""Seeded input generators.  Every function here is pure given its seed:
the same seed gives byte-identical inputs, so two commits measured with one
seed see the same work.

The catalog tables mirror the schemas and value distributions of the
project's synthetic TPC-H-ish test tables (column names, types, key ranges,
categorical domains), generated from scratch so the benchmark reads nothing
outside its checkout.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

# Words shared by every document (a small, skewed vocabulary, like the
# catalog's documents table) and rare terms that appear in few documents,
# so queries range from unselective to highly selective.
COMMON = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
RARE = [f"{stem}{i}" for i, stem in enumerate(
    "quasar zephyr nimbus fjord glyph kelp lumen onyx pylon quill raven sable "
    "tundra umber vortex wharf xenon yucca zircon basalt cobalt delta ember "
    "flint garnet helix iris jade karst lotus".split()
)]
LANGS = ("en", "es", "zh", "de", "fr")
LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)


def _words(rng: random.Random, n: int, rare_p: float) -> list[str]:
    out = []
    for _ in range(n):
        if rng.random() < rare_p:
            out.append(rng.choice(RARE))
        else:
            # Zipf-ish: low indexes are more frequent
            out.append(COMMON[min(int(rng.paretovariate(1.2)) - 1, len(COMMON) - 1)]
                       if rng.random() < 0.5 else rng.choice(COMMON))
    return out


# -- serving corpus -----------------------------------------------------------


@dataclass(frozen=True)
class CorpusDoc:
    library: str
    name: str  # file name inside the library folder; its suffix is the file_type
    text: str


def corpus(seed: int, n_libraries: int, docs_per_library: int) -> list[CorpusDoc]:
    """A `.md`/`.txt` mix per library.  About a third of the files are
    Markdown, so a ``file_type`` filter keeps a selective subset."""
    rng = random.Random(f"corpus-{seed}")
    docs = []
    for li in range(n_libraries):
        for di in range(docs_per_library):
            body = _words(rng, rng.randint(40, 160), rare_p=0.02)
            paras = []
            while body:
                cut = rng.randint(12, 40)
                paras.append(" ".join(body[:cut]))
                body = body[cut:]
            if rng.random() < 0.35:
                title = " ".join(_words(rng, 3, rare_p=0.0))
                docs.append(CorpusDoc(f"lib{li}", f"doc{di:04d}.md",
                                      f"# {title}\n\n" + "\n\n".join(paras) + "\n"))
            else:
                docs.append(CorpusDoc(f"lib{li}", f"doc{di:04d}.txt", "\n\n".join(paras) + "\n"))
    return docs


def write_corpus(docs: list[CorpusDoc], root: str) -> list[str]:
    """Write one folder per library; returns the library folders in order."""
    folders = []
    for d in docs:
        folder = os.path.join(root, d.library)
        if folder not in folders:
            os.makedirs(folder, exist_ok=True)
            folders.append(folder)
        with open(os.path.join(folder, d.name), "w", encoding="utf-8") as fh:
            fh.write(d.text)
    return folders


# -- request streams ----------------------------------------------------------


def search_requests(seed: int, n: int, libraries: list[str]) -> list[dict]:
    """MCP ``search`` arguments.  Request i is unscoped, library-scoped or
    ``file_type``-filtered by i % 3 and takes top_k 10, 5 or 20 by
    (i // 3) % 3, so every stretch of nine requests holds each pairing once
    and runs of different seeds differ only in their query terms: 1-4 terms,
    about a third of them rare."""
    rng = random.Random(f"search-{seed}")
    out = []
    for i in range(n):
        args: dict = {"query": " ".join(_words(rng, rng.randint(1, 4), rare_p=0.3)),
                      "top_k": (10, 5, 20)[(i // 3) % 3]}
        if i % 3 == 1:
            args["library"] = libraries[i // 3 % len(libraries)]
        elif i % 3 == 2:
            args["filter"] = {"file_type": "md"}
        out.append(args)
    return out


# Search variants only the Python API can express.  Cycle i of
# ingest_mixed runs MMR diversification and VARIANTS[i % 4]; request j of
# cycle i has 1 + (i + j) % 3 query terms.  So runs of different seeds
# differ only in their words, and every run does the same kind of work.
DIVERSIFY = {"diversify": 0.7}
VARIANTS = (
    {"method": "sq8"},
    {"method": "matryoshka"},
    {"highlight": True},
    {"fusion": "blend"},
)


def variant_requests(seed: int, n: int) -> list[tuple[dict, dict]]:
    """n cycles of (DIVERSIFY request, VARIANTS request)."""
    rng = random.Random(f"variant-{seed}")

    def request(i: int, j: int, extra: dict) -> dict:
        return {"query": " ".join(_words(rng, 1 + (i + j) % 3, rare_p=0.3)), "top_k": 5, **extra}

    return [(request(i, 0, DIVERSIFY), request(i, 1, VARIANTS[i % len(VARIANTS)])) for i in range(n)]


@dataclass(frozen=True)
class IngestCycle:
    """One write cycle's document: indexed as ``text`` under ``source``,
    re-ingested unchanged, then replaced by ``changed``."""
    source: str
    library: str
    text: str
    changed: str


def ingest_cycles(seed: int, n: int, libraries: list[str]) -> list[IngestCycle]:
    rng = random.Random(f"ingest-{seed}")
    out = []
    for i in range(n):
        text = " ".join(_words(rng, rng.randint(60, 80), rare_p=0.02))
        changed = text + " " + " ".join(_words(rng, rng.randint(15, 25), rare_p=0.02))
        out.append(IngestCycle(f"mem://cycle/{seed}/{i}.txt", rng.choice(libraries), text, changed))
    return out


# -- catalog tables -----------------------------------------------------------

# Row counts at the catalog's sf0.01 scale (documents/embeddings are fixed-size).
SF_ROWS = {
    "supplier": 100, "customer": 1500, "part": 2000, "orders": 15000,
    "lineitem": 60000, "events": 10000, "documents": 500, "embeddings": 500,
}
TABLES = ("region", "nation", "supplier", "customer", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def catalog_tables(seed: int) -> dict:
    """The ten catalog tables as pyarrow Tables."""
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    n = SF_ROWS
    t: dict[str, pa.Table] = {}

    def money(lo, hi, size):
        return np.round(rng.uniform(lo, hi, size), 2)

    def days(start, span, size):
        base = np.datetime64(start, "us")
        return base + rng.integers(0, span, size).astype("timedelta64[D]").astype("timedelta64[us]")

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": money(-999.99, 9999.99, n["supplier"]),
    })
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": money(-999.99, 9999.99, n["customer"]),
        "c_mktsegment": segs[rng.integers(0, 5, n["customer"])],
    })
    adj = np.array("blue cold hot large new old red small".split())
    noun = np.array("anvil bolt gear gizmo plate ring rod widget".split())
    types = np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"])
    pk = np.arange(n["part"])
    t["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n["part"])], " "),
                              noun[rng.integers(0, 8, n["part"])]),
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n["part"]).astype(str)),
        "p_type": types[rng.integers(0, 6, n["part"])],
        "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n["orders"]), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n["orders"])],
        "o_totalprice": money(1000.0, 500000.0, n["orders"]),
        "o_orderdate": pa.array(days("1995-01-01", 2404, n["orders"]), pa.timestamp("us")),
        "o_orderpriority": prio[rng.integers(0, 5, n["orders"])],
    })
    m = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], m), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], m), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, m), pa.int32()),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": money(900.0, 105000.0, m),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, m)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, m)],
        "l_shipdate": pa.array(days("1995-01-02", 2498, m), pa.timestamp("us")),
    })
    e = n["events"]
    gaps = rng.exponential(30 * 86400e6 / e, e).astype(np.int64)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(e), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + np.cumsum(gaps).astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 150, e), pa.int64()),
        "event_type": np.array(["click", "view", "purchase", "signup", "error"])[rng.integers(0, 5, e)],
        "value": np.maximum(np.round(rng.exponential(50.0, e), 2), 0.01),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
    })
    d = n["documents"]
    texts = [" ".join(np.array(COMMON)[rng.integers(0, len(COMMON), rng.integers(10, 100))])
             for _ in range(d)]
    # ~5% planted near-duplicates: another document's text plus one token
    for i in rng.choice(d, d // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, d))] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(d), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, d, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(d)],
        "n_chars": pa.array([len(x) for x in texts], pa.int64()),
    })
    v = n["embeddings"]
    labels = rng.integers(0, 10, v)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vecs = 0.15 * centers[labels] / np.linalg.norm(centers[labels], axis=1, keepdims=True) \
        + rng.normal(0.0, 0.125, (v, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(v), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def write_catalog_tables(seed: int, out_dir: str) -> None:
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for name, table in catalog_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
