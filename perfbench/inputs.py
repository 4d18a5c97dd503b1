"""Seeded input generation for the benchmark workloads.

Every input is a pure function of the workload's seed. Generation runs
during set-up and writes Parquet, so the timed linkage runs start from
files and never pay for lazy fixture plans.

The "documents" table (``doc_id, text, lang, source``) copies the shape
measured on the sf0.1 ``documents.parquet`` testdata table (5,000 rows,
read by ``testdata.documents``), which the benchmark cannot read because
it is not part of the repository:

- texts of 10-100 words, lengths uniform, words drawn uniformly from a
  30-word vocabulary (every word 8,800-9,200 times in 270,704 words);
- 5 % of the documents are a copy of another one with `` dup`` appended
  (250 of 5,000; the 31st word of the table's vocabulary);
- ``source = src{doc_id % 20}``, 250 documents per source;
- ``lang`` en 41 %, zh/es/fr 15 % each, de 14 %.

``calibrate.py`` links this table and the generated one side by side;
README.md records the figures. The parties are derived with the
library's own ``testdata.records_from_documents``, which splits them on
``doc_id % 4``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)
DUP_RATE = 0.05
SOURCES = 20
# the texts come from this one draw; the workload seed only deals them
# out to doc_ids (see documents_frame)
TEXT_SEED = 0


def documents_frame(n_docs: int, seed: int) -> pd.DataFrame:
    """The documents table for ``seed``: (doc_id, text, lang, source).

    The texts come from one fixed draw. The seed deals them out to
    doc_ids, each text among the doc_ids of its ``doc_id % 20`` class, so
    every text keeps its source and its party (``doc_id % 4``) and every
    seed links the same records under different ids: the same amount of
    work on different inputs. At the benchmark's sizes, letting the seed
    redraw the texts, or deal them across classes, changed the records'
    attribute values, hence the reference set and the blocks, and moved
    the candidate count by more than half between seeds, which swamped the
    run-to-run spread of ``pairs_per_s``.
    """
    rng = np.random.default_rng(TEXT_SEED)
    vocab = np.array(VOCAB)
    lengths = rng.integers(10, 101, n_docs)
    drawn = [" ".join(vocab[rng.integers(0, len(vocab), n)]) for n in lengths]
    texts = list(drawn)
    # copies of drawn texts, never of a copy: the table has no "dup dup"
    for i in rng.choice(n_docs, size=round(DUP_RATE * n_docs), replace=False):
        src = int(rng.integers(0, n_docs - 1))
        texts[i] = drawn[src + (src >= i)] + " dup"
    langs = rng.choice(LANGS, size=n_docs, p=LANG_P)
    doc_id = np.arange(n_docs, dtype=np.int64)
    deal = np.random.default_rng(seed)
    order = doc_id.copy()
    for k in range(SOURCES):
        order[k::SOURCES] = deal.permutation(order[k::SOURCES])
    return pd.DataFrame(
        {
            "doc_id": doc_id,
            "text": np.array(texts, dtype=object)[order],
            "lang": langs[order],
            "source": [f"src{i % SOURCES}" for i in doc_id],
        }
    )
