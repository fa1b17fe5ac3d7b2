"""The benchmark's inputs.

``testdata/sf0.001`` and ``testdata/sf0.01`` are byte-for-byte copies of
the engine's deterministic test tables (TPC-H-ish star schema plus
``events``, ``documents`` and ``embeddings``, seed 42) at those scale
factors, kept here so a checkout holds everything a run reads.

``write_scale10`` applies the 10x clone recipe to one of them: documents
and embeddings cloned ten times (near-copy documents carrying a seeded
suffix token), lineitem x10 with ``l_orderkey`` remapped, and the other
tables linked from the base.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TESTDATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata")
TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()


def base_dir(sf: float) -> str:
    """The copied test tables at scale factor ``sf`` (read-only)."""
    path = os.path.join(TESTDATA, f"sf{sf:g}")
    if not os.path.isdir(path):
        scales = sorted(d[2:] for d in os.listdir(TESTDATA) if d.startswith("sf"))
        raise ValueError(f"no test tables at sf{sf:g}; have sf {', '.join(scales)}")
    return path


def write_scale10(out: str, base_dir: str, seed: int) -> str:
    """The 10x clone recipe over ``base_dir``: copy k of a document gets a
    seeded suffix token, every clone keeps its source's vector, and
    lineitem is replicated with ``l_orderkey`` remapped to key*10+k."""
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng(seed)
    k = np.arange(10)

    docs = pq.read_table(f"{base_dir}/documents.parquet")
    n = docs.num_rows
    suffix = [f" copy{w}" for w in rng.integers(0, 1_000_000, n * 10)]
    texts = docs.column("text").to_pylist()
    new_text = [
        texts[i] if j == 0 else texts[i] + suffix[i * 10 + j]
        for i in range(n)
        for j in range(10)
    ]
    rep = np.repeat(np.arange(n), 10)
    pq.write_table(
        pa.table(
            {
                "doc_id": np.repeat(docs.column("doc_id").to_numpy(), 10) * 10 + np.tile(k, n),
                "text": pa.array(new_text),
                "lang": docs.column("lang").take(rep),
                "source": docs.column("source").take(rep),
                "n_chars": np.array([len(s) for s in new_text], dtype=np.int64),
            }
        ),
        f"{out}/documents.parquet",
    )

    emb = pq.read_table(f"{base_dir}/embeddings.parquet")
    m = emb.num_rows
    rep = np.repeat(np.arange(m), 10)
    pq.write_table(
        pa.table(
            {
                "vec_id": np.repeat(emb.column("vec_id").to_numpy(), 10) * 10 + np.tile(k, m),
                "embedding": emb.column("embedding").take(rep),
                "label": emb.column("label").take(rep),
            }
        ),
        f"{out}/embeddings.parquet",
    )

    li = pq.read_table(f"{base_dir}/lineitem.parquet")
    parts = []
    for j in range(10):
        key = pa.array(li.column("l_orderkey").to_numpy() * 10 + j)
        parts.append(li.set_column(0, "l_orderkey", key))
    pq.write_table(pa.concat_tables(parts), f"{out}/lineitem.parquet")

    for name in TABLES:
        dst = f"{out}/{name}.parquet"
        if not os.path.exists(dst):
            os.symlink(os.path.abspath(f"{base_dir}/{name}.parquet"), dst)
    return out
