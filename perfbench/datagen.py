"""Inputs of the benchmark.

The registry's queries read ten tables from one data directory. Nine of
them (the TPC-H-shaped star schema, ``events`` and ``embeddings``) are the
repo's fixed sf0.01 test data (the sibling of ``SF_BENCH`` in
``tests/conftest.py``), linked read-only into the run's data directory.
The tenth, ``documents``, is generated from the run seed; the same seed
always gives a byte-identical file.

``documents`` follows the test corpus' shape: word soup over its fixed
31-word vocabulary, 10-100 words per document, ``source = src{i % 20}``,
and exactly a stated share of near duplicates (an earlier document with
one or two ``dup`` tokens appended).
"""

from __future__ import annotations

import importlib.util
import os
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LINKED = (
    "region nation customer supplier part orders lineitem events embeddings"
).split()

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "es", "de", "fr", "zh"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]


def fixed_data_dir(root: Path, scale: str = "sf0.01") -> str:
    """The fixed test data of ``scale``, beside the bench-scale directory
    the repo's tests name."""
    spec = importlib.util.spec_from_file_location(
        "_perfbench_conftest", root / "tests" / "conftest.py"
    )
    conftest = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(conftest)
    return str(Path(conftest.SF_BENCH).with_name(scale))


def documents(seed: int, n_docs: int, dup_share: float) -> pa.Table:
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    # Exactly the stated share, at seeded positions (never the first doc).
    n_dups = min(round(n_docs * dup_share), n_docs - 1)
    dup_of = set(rng.choice(np.arange(1, n_docs), n_dups, replace=False).tolist())
    for i in range(n_docs):
        if i in dup_of:
            base = texts[int(rng.integers(0, i))]
            texts.append(base + " dup" * int(rng.integers(1, 3)))
        else:
            words = rng.choice(len(VOCAB), int(rng.integers(10, 101)))
            texts.append(" ".join(VOCAB[w] for w in words))
    langs = np.asarray(LANGS, dtype=object)[rng.choice(len(LANGS), n_docs, p=LANG_P)]
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(langs),
            "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def prepare(out_dir: str, sf_dir: str, seed: int, n_docs: int, dup_share: float) -> None:
    """Fill ``out_dir`` with links to the fixed tables of ``sf_dir`` and a
    ``documents`` corpus drawn from ``seed``."""
    os.makedirs(out_dir, exist_ok=True)
    for name in LINKED:
        target = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.isfile(target):
            raise FileNotFoundError(f"test data table missing: {target}")
        os.symlink(target, os.path.join(out_dir, f"{name}.parquet"))
    pq.write_table(
        documents(seed, n_docs, dup_share), os.path.join(out_dir, "documents.parquet")
    )
