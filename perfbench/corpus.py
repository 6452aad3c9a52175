"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the seed (and, for the JSON corpora,
of the file count the caller derives from the core count), so the same
seed gives byte-identical inputs. The program under test only ever sees
the files written here.

JSON documents are modelled on the paper's own workload (GitHub-archive
style events): nested structs whose fields appear sparsely, payloads whose
shape depends on the event type, integers that cross the tinyint /
smallint / int / bigint / decimal(>19) boundaries, timestamp and hex
strings that sometimes decay to plain strings, nulls, arrays of structs,
and a field that is a struct in some documents, a list in others and a
string in the rest. Every one of those keeps ``merge_types`` widening or
forming unions, so the fold never settles into the cheap
``previous == incoming`` case.

Keys are ``[a-z_]`` only, and string values hold no newline: the shredded
output is one directory per leaf path with one value per line, and both
would otherwise need escaping to be counted back.
"""

from __future__ import annotations

import gzip
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("push", "issues", "release", "watch", "fork")
WORDS = (
    "lattice", "schema", "shred", "merge", "union", "struct", "list", "hive",
    "spark", "column", "stream", "gzip", "record", "field", "widen", "decay",
)
# (low, high) per integer size class, so a field's type keeps widening
_INT_TIERS = (
    (0, 127),
    (128, 32_767),
    (32_768, 2**31 - 1),
    (2**31, 2**63 - 1),
    (2**63, 2**66),  # beyond bigint: decimal(19..20,0)
)
_INT_WEIGHTS = (40, 25, 20, 12, 3)


def _int(rng: random.Random) -> int:
    lo, hi = rng.choices(_INT_TIERS, _INT_WEIGHTS)[0]
    v = rng.randint(lo, hi)
    return -v if rng.random() < 0.1 else v


def _hex(rng: random.Random) -> str:
    # an odd digit count is not binary and decays the field to string
    n = rng.choice((8, 16, 40, 40, 40, 7))
    return "".join(rng.choice("0123456789abcdef") for _ in range(n))


def _ts(rng: random.Random) -> str:
    d = f"2016-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}"
    t = f"{rng.randint(0, 23):02d}:{rng.randint(0, 59):02d}:{rng.randint(0, 59):02d}"
    form = rng.random()
    if form < 0.6:
        return f"{d}T{t}Z"
    if form < 0.9:
        return f"{d.replace('-', '/')} {t}"
    return f"{d} at {t}"  # not a timestamp: decays to string


def _words(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(rng.randint(lo, hi)))


def _number(rng: random.Random):
    form = rng.random()
    if form < 0.4:
        return round(rng.uniform(0, 10_000), rng.randint(1, 4))  # decimal
    if form < 0.7:
        return rng.randint(0, 1000)
    if form < 0.9:
        return rng.uniform(1, 9) * 10 ** rng.randint(9, 20)  # float / double
    return rng.uniform(1, 9) * 10 ** rng.randint(39, 60)  # double only


def _maybe_null(rng: random.Random, value, p: float = 0.05):
    return None if rng.random() < p else value


def _payload(rng: random.Random, kind: str) -> dict:
    if kind == "push":
        commits = [
            {
                "sha": _hex(rng),
                "message": _words(rng, 1, 8),
                "distinct": rng.random() < 0.8,
                "author": {"name": rng.choice(WORDS), "email_hash": _hex(rng)},
            }
            for _ in range(rng.randint(0, 4))
        ]
        return {"size": len(commits), "ref": f"refs/heads/{rng.choice(WORDS)}", "commits": commits}
    if kind == "issues":
        p = {
            "action": rng.choice(("opened", "closed", "reopened")),
            "number": _int(rng),
            "labels": [rng.choice(WORDS) for _ in range(rng.randint(0, 3))],
        }
        if rng.random() < 0.3:
            p["size"] = rng.choice(("small", "large"))  # int elsewhere: a union
        return p
    if kind == "release":
        return {
            "tag": f"v{rng.randint(0, 9)}.{rng.randint(0, 20)}",
            "draft": _maybe_null(rng, rng.random() < 0.2),
            "assets": [
                {"name": rng.choice(WORDS) + ".tar.gz", "bytes": _int(rng), "digest": _hex(rng)}
                for _ in range(rng.randint(1, 3))
            ],
        }
    if kind == "watch":
        return {"action": "started"}
    return {"forkee": {"id": _int(rng), "full_name": rng.choice(WORDS), "score": _number(rng)}}


def make_doc(rng: random.Random, i: int) -> dict:
    kind = rng.choice(EVENT_TYPES)
    doc = {
        "id": _int(rng),
        "type": kind,
        "created_at": _ts(rng),
        "actor": {"id": _int(rng), "login": rng.choice(WORDS), "gravatar": _maybe_null(rng, _hex(rng))},
        "repo": {"id": _int(rng), "name": f"{rng.choice(WORDS)}/{rng.choice(WORDS)}"},
        "payload": _payload(rng, kind),
    }
    if rng.random() < 0.5:
        doc["public"] = _maybe_null(rng, rng.random() < 0.9, 0.2)
    if rng.random() < 0.4:
        doc["score"] = _number(rng)
    meta = rng.random()
    if meta < 0.15:
        doc["meta"] = {"seq": i, "shard": rng.randint(0, 7)}
    elif meta < 0.25:
        doc["meta"] = [rng.randint(0, 300) for _ in range(rng.randint(0, 3))]
    elif meta < 0.3:
        doc["meta"] = rng.choice(WORDS)
    if rng.random() < 0.1:
        doc["extra"] = [1, rng.choice(WORDS), None, rng.random() < 0.5]
    return doc


def make_docs(seed: int, n_docs: int) -> list[dict]:
    rng = random.Random(f"docs-{seed}")
    return [make_doc(rng, i) for i in range(n_docs)]


def write_concatenated_gz(docs: list[dict], out_dir: str, n_files: int, seed: int) -> list[str]:
    """Docs split into ``n_files`` contiguous ``.json.gz`` files, written
    back to back with no separator; one in five is pretty-printed."""
    rng = random.Random(f"layout-{seed}")
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    bounds = np.linspace(0, len(docs), n_files + 1).astype(int)
    for f in range(n_files):
        parts = []
        for doc in docs[bounds[f]:bounds[f + 1]]:
            if rng.random() < 0.2:
                parts.append(json.dumps(doc, indent=2))
            else:
                parts.append(json.dumps(doc, separators=(",", ":")))
        path = os.path.join(out_dir, f"part-{f:03d}.json.gz")
        # mtime=0: no time stamp in the header, so the bytes repeat per seed
        with open(path, "wb") as raw, gzip.GzipFile(fileobj=raw, mode="wb", compresslevel=1, mtime=0) as gz:
            gz.write("".join(parts).encode("utf-8"))
        paths.append(path)
    return paths


def write_ndjson(docs: list[dict], out_dir: str, n_files: int) -> list[str]:
    """Docs split into ``n_files`` contiguous NDJSON files (one doc per line)."""
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    bounds = np.linspace(0, len(docs), n_files + 1).astype(int)
    for f in range(n_files):
        path = os.path.join(out_dir, f"part-{f:03d}.json")
        with open(path, "w", encoding="utf-8") as fh:
            for doc in docs[bounds[f]:bounds[f + 1]]:
                fh.write(json.dumps(doc, separators=(",", ":")))
                fh.write("\n")
        paths.append(path)
    return paths


# --- relational tables for the headline workload ------------------------------
#
# Same schemas and key relationships as the shipped sf0.001 tables (one
# parquet file and one row group each), drawn from the seed.

_VOCAB = np.array(
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast the row agg key query "
    "a scan batch".split()
)
_LANGS = np.array(["en", "de", "es", "fr", "zh"])
_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_PTYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
_PNOUNS = np.array(["ring", "bolt", "screw", "nut", "washer", "gear", "pin", "clip"])
_PADJS = np.array(["large", "hot", "blue", "red", "green", "dim", "odd", "new"])
_DAY_US = 86_400_000_000

TABLE_ROWS = {
    "region": 5,
    "nation": 25,
    "customer": 150,
    "supplier": 10,
    "part": 200,
    "orders": 1_500,
    "lineitem": 6_000,
    "events": 1_000,
    "documents": 500,
    "embeddings": 500,
}


def _ts_us(base: str, offsets_us: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us").astype("int64")
    return pa.array(start + offsets_us.astype("int64"), type=pa.timestamp("us"))


def make_tables(seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed % 2**63)  # any int seed, negatives too
    n = TABLE_ROWS
    pk = np.arange(n["part"], dtype=np.int64)
    lengths = rng.integers(10, 101, n["documents"])
    texts = [" ".join(_VOCAB[rng.integers(0, 30, k)]) for k in lengths]
    # one near-duplicate pair per 20 documents: a copy with one token flipped
    n_pairs = n["documents"] // 20
    dup = rng.choice(n["documents"], size=2 * n_pairs, replace=False)
    for a, b in zip(dup[:n_pairs], dup[n_pairs:]):
        toks = texts[a].split()
        toks[rng.integers(0, len(toks))] = "dup"
        texts[b] = " ".join(toks)
    emb = rng.standard_normal((n["embeddings"], 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    return {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-1000, 10000, n["customer"]), 2),
            "c_mktsegment": _SEGMENTS[rng.integers(0, 5, n["customer"])],
        }),
        "supplier": pa.table({
            "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-1000, 10000, n["supplier"]), 2),
        }),
        "part": pa.table({
            "p_partkey": pk,
            "p_name": np.char.add(np.char.add(_PADJS[pk % 8], " "), _PNOUNS[(pk // 8) % 8]),
            "p_brand": np.char.add("Brand#", (pk % 25).astype(str)),
            "p_type": _PTYPES[rng.integers(0, 6, n["part"])],
            "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
            "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
        }),
        "orders": pa.table({
            "o_orderkey": np.arange(n["orders"], dtype=np.int64),
            "o_custkey": rng.integers(0, n["customer"], n["orders"]),
            "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, n["orders"])],
            "o_totalprice": np.round(rng.uniform(1000, 500000, n["orders"]), 2),
            "o_orderdate": _ts_us("1995-01-01", rng.integers(0, 2404, n["orders"]) * _DAY_US),
            "o_orderpriority": np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
            )[rng.integers(0, 5, n["orders"])],
        }),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, n["orders"], n["lineitem"]),
            "l_partkey": rng.integers(0, n["part"], n["lineitem"]),
            "l_suppkey": rng.integers(0, n["supplier"], n["lineitem"]),
            "l_linenumber": pa.array(rng.integers(1, 8, n["lineitem"]), pa.int32()),
            "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(np.float64),
            "l_extendedprice": np.round(rng.uniform(900, 105000, n["lineitem"]), 2),
            "l_discount": np.round(rng.integers(0, 11, n["lineitem"]) * 0.01, 2),
            "l_tax": np.round(rng.integers(0, 9, n["lineitem"]) * 0.01, 2),
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n["lineitem"])],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n["lineitem"])],
            "l_shipdate": _ts_us("1995-01-01", rng.integers(1, 2500, n["lineitem"]) * _DAY_US),
        }),
        "events": pa.table({
            "event_id": np.arange(n["events"], dtype=np.int64),
            "ts": _ts_us("2024-01-01", np.sort(rng.integers(0, 30 * _DAY_US, n["events"]))),
            "user_id": rng.integers(0, 15, n["events"]),
            "event_type": np.array(["click", "view", "purchase", "signup", "error"])[
                rng.integers(0, 5, n["events"])
            ],
            "value": np.round(np.minimum(rng.exponential(80.0, n["events"]), 560.0), 2),
            "props": np.char.add(
                np.char.add('{"k": ', rng.integers(0, 100, n["events"]).astype(str)), "}"
            ),
        }),
        "documents": pa.table({
            "doc_id": np.arange(n["documents"], dtype=np.int64),
            "text": texts,
            "lang": _LANGS[rng.choice(5, n["documents"], p=[0.4, 0.15, 0.15, 0.15, 0.15])],
            "source": np.char.add("src", (np.arange(n["documents"]) % 20).astype(str)),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }),
        "embeddings": pa.table({
            "vec_id": np.arange(n["embeddings"], dtype=np.int64),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n["embeddings"]), pa.int32()),
        }),
    }


def write_tables(seed: int, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")
