"""Seeded input generator for the workflow benchmark.

Everything a run consumes is made here, with numpy, pyarrow and the
standard library, so the benchmark needs no fixture outside its checkout.
The star schema is the same for every seed; ``--seed`` picks everything
else.  The same seed gives byte-identical files.  :func:`prepare` runs in a child process, so
generation is never timed and never counts into the measured process's
memory; the ground truth the checks need is written beside the files
(``truth.json``) and read back with :func:`load`.  A landing set already
generated for a seed is reused.

* ``tpch`` — an sf0.1-shaped star schema (region, nation, customer,
  supplier, part, orders, lineitem) with the column layout the library's
  ``plans.tpch.tpch_schema`` declares, generated once per checkout.
* ``slice_roots`` — the root customer key sets of the slice iterations,
  each with about the same number of orders.
* ``corpus`` — JSONL landing files: distinct documents, low-quality
  documents, exact copies and one-token edits, shuffled.
"""

from __future__ import annotations

import json
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1 row counts (lineitem is 1-7 lines per order, ~600k rows)
N_CUSTOMER = 15_000
N_SUPPLIER = 1_000
N_PART = 20_000
N_ORDERS = 150_000

EN_STOPWORDS = ["the", "and", "of", "to", "a", "in", "is", "it", "that", "was"]


def _rng(seed: int, stream: str) -> np.random.Generator:
    """One independent generator per input kind, so adding a kind never
    shifts the values another kind draws for the same seed."""
    return np.random.default_rng([seed, zlib.crc32(stream.encode())])


def _write(table: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, path)


# ------------------------------------------------------------------ tpch


def tpch(seed: int, out_dir: str) -> dict[str, int]:
    """Write the seven star-schema tables as ``<out_dir>/<table>.parquet``;
    returns row counts.  Keys start at 0 and are dense."""
    r = _rng(seed, "tpch")
    os.makedirs(out_dir, exist_ok=True)
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
            "n_name": [f"NATION{i:02d}" for i in range(25)],
            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
        }
    )
    ck = np.arange(N_CUSTOMER, dtype=np.int64)
    tables["customer"] = pa.table(
        {
            "c_custkey": ck,
            "c_name": [f"Customer#{i:09d}" for i in range(N_CUSTOMER)],
            "c_nationkey": r.integers(0, 25, N_CUSTOMER).astype(np.int32),
            "c_acctbal": np.round(r.uniform(-999.99, 9999.99, N_CUSTOMER), 2),
            "c_mktsegment": segs[r.integers(0, 5, N_CUSTOMER)],
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(N_SUPPLIER, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(N_SUPPLIER)],
            "s_nationkey": r.integers(0, 25, N_SUPPLIER).astype(np.int32),
            "s_acctbal": np.round(r.uniform(-999.99, 9999.99, N_SUPPLIER), 2),
        }
    )
    colors = np.array(["almond", "blue", "coral", "khaki", "linen", "olive", "plum", "tan"])
    types = np.array(["ECONOMY ANODIZED STEEL", "LARGE BRUSHED BRASS", "PROMO PLATED TIN",
                      "SMALL POLISHED COPPER", "STANDARD BURNISHED NICKEL"])
    tables["part"] = pa.table(
        {
            "p_partkey": np.arange(N_PART, dtype=np.int64),
            "p_name": np.char.add(
                np.char.add(colors[r.integers(0, 8, N_PART)], " "),
                colors[r.integers(0, 8, N_PART)],
            ),
            "p_brand": np.char.add("Brand#", r.integers(11, 56, N_PART).astype(str)),
            "p_type": types[r.integers(0, 5, N_PART)],
            "p_size": r.integers(1, 51, N_PART).astype(np.int32),
            "p_retailprice": np.round(r.uniform(900.0, 2100.0, N_PART), 2),
        }
    )
    epoch0 = np.datetime64("1992-01-01T00:00:00", "us")
    odays = r.integers(0, 2400, N_ORDERS)
    tables["orders"] = pa.table(
        {
            "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
            # TPC-H leaves a third of customers without orders
            "o_custkey": r.choice(ck[ck % 3 != 0], N_ORDERS),
            "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, N_ORDERS)],
            "o_totalprice": np.round(r.uniform(850.0, 500_000.0, N_ORDERS), 2),
            "o_orderdate": pa.array(epoch0 + odays * np.int64(86_400_000_000), pa.timestamp("us")),
            "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                         "5-LOW"])[r.integers(0, 5, N_ORDERS)],
        }
    )
    lines = r.integers(1, 8, N_ORDERS)
    n_li = int(lines.sum())
    l_orderkey = np.repeat(np.arange(N_ORDERS, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    l_linenumber = (np.arange(n_li) - starts + 1).astype(np.int32)
    qty = r.integers(1, 51, n_li).astype(np.float64)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": l_orderkey,
            "l_partkey": r.integers(0, N_PART, n_li).astype(np.int64),
            "l_suppkey": r.integers(0, N_SUPPLIER, n_li).astype(np.int64),
            "l_linenumber": l_linenumber,
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * r.uniform(900.0, 2100.0, n_li), 2),
            "l_discount": np.round(r.integers(0, 11, n_li) / 100.0, 2),
            "l_tax": np.round(r.integers(0, 9, n_li) / 100.0, 2),
            "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n_li)],
            "l_shipdate": pa.array(
                epoch0 + (np.repeat(odays, lines) + r.integers(1, 122, n_li))
                * np.int64(86_400_000_000),
                pa.timestamp("us"),
            ),
        }
    )
    for name, t in tables.items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def slice_roots(seed: int, data_dir: str, iterations: int, per_iter: int = 20,
                tolerance: float = 0.02) -> list[list[int]]:
    """Root customer keys per slice iteration: ``per_iter`` distinct
    customers that have orders, drawn until their order count is within
    ``tolerance`` of ``per_iter`` times the mean, so every dump moves about
    the same number of rows and timings compare across seeds."""
    r = _rng(seed, "roots")
    cust = pq.read_table(os.path.join(data_dir, "orders.parquet"),
                         columns=["o_custkey"]).column(0).to_numpy()
    keys, counts = np.unique(cust, return_counts=True)
    target = per_iter * counts.mean()
    out = []
    while len(out) < iterations:
        pick = r.choice(len(keys), per_iter, replace=False)
        if abs(counts[pick].sum() - target) <= tolerance * target:
            out.append(sorted(int(k) for k in keys[pick]))
    return out


# ---------------------------------------------------------------- corpus


def _vocab(r: np.random.Generator, n: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words: set[str] = set(EN_STOPWORDS)
    out: list[str] = []
    while len(out) < n:
        w = "".join(letters[r.integers(0, 26, int(r.integers(4, 10)))])
        if w not in words:
            words.add(w)
            out.append(w)
    return out


def corpus(
    seed: int,
    land_dir: str,
    n_docs: int,
    n_files: int,
    n_copies: int,
    n_edits: int,
    n_lowq: int,
) -> None:
    """Write ``n_files`` JSONL landing files holding ``n_docs`` distinct
    documents, ``n_lowq`` digit-soup documents the quality gate rejects,
    ``n_copies`` exact copies and ``n_edits`` one-token edits of distinct
    documents (new ids), shuffled, and the planted copy/edit pairs."""
    r = _rng(seed, "corpus")
    vocab = _vocab(r, 4000)
    # 40-89 tokens per document, 30% of them stopwords
    n_tok = r.integers(40, 90, n_docs)
    total = int(n_tok.sum())
    words = np.where(r.random(total) < 0.3,
                     np.array(EN_STOPWORDS)[r.integers(0, len(EN_STOPWORDS), total)],
                     np.array(vocab)[r.integers(0, len(vocab), total)])
    docs: dict[int, str] = {
        i: " ".join(ws) for i, ws in enumerate(np.split(words, np.cumsum(n_tok)[:-1]))}
    nid = n_docs
    for _ in range(n_lowq):
        docs[nid] = " ".join(str(int(x)) for x in r.integers(1000, 99999, int(r.integers(4, 12))))
        nid += 1
    originals = list(range(n_docs))
    copies: list[tuple[int, int]] = []
    for src in r.choice(originals, n_copies, replace=False):
        docs[nid] = docs[int(src)]
        copies.append((int(src), nid))
        nid += 1
    edits: list[tuple[int, int]] = []
    taken = {s for s, _ in copies}
    pool = [k for k in originals if k not in taken]
    for src in r.choice(pool, n_edits, replace=False):
        toks = docs[int(src)].split(" ")
        pos = int(r.integers(0, len(toks)))
        toks[pos] = vocab[int(r.integers(0, len(vocab)))]
        docs[nid] = " ".join(toks)
        edits.append((int(src), nid))
        nid += 1
    ids = np.array(sorted(docs), dtype=np.int64)
    r.shuffle(ids)
    os.makedirs(land_dir, exist_ok=True)
    langs = ["en", "de", "fr", "es"]
    files = {}
    for f, chunk in enumerate(np.array_split(ids, n_files)):
        path = os.path.join(land_dir, f"part-{f:03d}.jsonl")
        with open(path, "w") as fh:
            for i in chunk:
                text = docs[int(i)]
                fh.write(json.dumps({"doc_id": int(i), "text": text, "lang": langs[int(i) % 4],
                                     "source": f"src{int(i) % 7}", "n_chars": len(text)}) + "\n")
        # the file source orders micro-batches by modification time
        os.utime(path, (1_000_000_000 + f, 1_000_000_000 + f))
    _write_truth(land_dir, {"copies": copies, "edits": edits})


# ------------------------------------------------------------- run inputs


def _write_truth(land_dir: str, truth: dict) -> None:
    """Written last: its presence marks a complete landing set."""
    path = os.path.join(land_dir, "truth.json")
    with open(path + ".tmp", "w") as f:
        json.dump(truth, f)
    os.replace(path + ".tmp", path)


#: landing set of the corpus_ingest workload: ~880 documents per file
CORPUS_ARGS = dict(n_docs=5000, n_files=8, n_copies=1000, n_edits=1000, n_lowq=40)


#: the star schema is generated from this seed whatever ``--seed`` is, so
#: dumps of every seed traverse the same tables
TPCH_SEED = 0


def tpch_dir(inputs: str) -> str:
    return os.path.join(inputs, "tpch")


def corpus_dir(inputs: str, seed: int) -> str:
    return os.path.join(inputs, f"seed-{seed}", "corpus")


def prepare(workload: str, seed: int, inputs: str) -> None:
    """Make (or reuse) every input file ``workload`` reads for ``seed``
    under ``inputs``."""
    if workload == "slice_small":
        if not os.path.exists(os.path.join(tpch_dir(inputs), "lineitem.parquet")):
            tpch(TPCH_SEED, tpch_dir(inputs))
        return
    c = corpus_dir(inputs, seed)
    if not os.path.exists(os.path.join(c, "truth.json")):
        corpus(seed, c, **CORPUS_ARGS)


def load(land_dir: str) -> dict:
    """Ground truth of a landing set: content by id, the ids in each file
    and the planted pairs."""
    with open(os.path.join(land_dir, "truth.json")) as f:
        truth = {k: [tuple(p) for p in v] for k, v in json.load(f).items()}
    content, files = {}, {}
    for name in sorted(os.listdir(land_dir)):
        if name.endswith(".jsonl"):
            path = os.path.join(land_dir, name)
            with open(path) as fh:
                rows = [json.loads(line) for line in fh]
            files[path] = [r["doc_id"] for r in rows]
            content.update((r["doc_id"], r["text"].encode()) for r in rows)
    return dict(truth, content=content, files=files)


if __name__ == "__main__":
    import sys

    prepare(sys.argv[1], int(sys.argv[2]), sys.argv[3])
