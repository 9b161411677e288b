"""Seeded input generators, one per workload. Pure functions of the
seed: the same seed writes byte-identical parquet, and the program
under test only ever sees these files.

- ``write_transcripts``: the conversational corpus of the ``build``
  workload, assembled from the corpus module's pure turn functions
  (sparse entities, every 97th conversation 60-180 turns).
- ``write_transcript_files``: the same kind of corpus cut into equal
  files, the deltas the ``serve`` workload lands one at a time.
- ``write_documents`` / ``write_embeddings``: the entity-dense
  ``documents`` + ``embeddings`` pair the ``serve`` workload queries, in the
  schema of the registry's input tables (30-word vocabulary holding the
  14 document-KB entities, 5% near-duplicates marked with a ``dup``
  suffix, unit-norm vectors with 10 labels).
"""

from __future__ import annotations

import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from denrl_spark.plans.docs_kg import DOC_ENTITIES
from denrl_spark.sources.corpus import make_turn_text, n_turns_for

_EPOCH_US = 1_735_689_600_000_000  # 2025-01-01T00:00:00Z

TRANSCRIPT_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)

VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]
DUP_SHARE = 0.05
ENTITY_WORDS = {e for e, _ in DOC_ENTITIES}


def transcript_table(seed: int, n_turns: int) -> pa.Table:
    """Exactly ``n_turns`` turns: whole conversations 0, 1, ... in order,
    the last one cut short, so every seed yields the same input size."""
    cols: dict[str, list] = {f.name: [] for f in TRANSCRIPT_SCHEMA}
    c = 0
    while len(cols["turn_idx"]) < n_turns:
        for t in range(min(n_turns_for(seed, c), n_turns - len(cols["turn_idx"]))):
            cols["conv_id"].append(f"conv-{c:08d}")
            cols["turn_idx"].append(t)
            cols["role"].append("user" if t % 2 == 0 else "assistant")
            cols["text"].append(make_turn_text(seed, c, t))
            cols["tool"].append(None)
            cols["ts"].append(_EPOCH_US + (c * 3600 + t * 7) * 1_000_000)
        c += 1
    return pa.table(cols, schema=TRANSCRIPT_SCHEMA)


def write_transcripts(path: str, seed: int, n_turns: int) -> None:
    pq.write_table(transcript_table(seed, n_turns), path)


def write_transcript_files(
    dir_path: str, seed: int, n_files: int, turns_per_file: int
) -> list[str]:
    """``n_files`` consecutive slices of one ``n_files * turns_per_file``
    turn corpus, one parquet file each; their paths, in order."""
    table = transcript_table(seed, n_files * turns_per_file)
    paths = []
    for i in range(n_files):
        paths.append(os.path.join(dir_path, f"part-{i:05d}.parquet"))
        pq.write_table(table.slice(i * turns_per_file, turns_per_file), paths[-1])
    return paths


def document_texts(seed: int, n_docs: int) -> list[str]:
    """Texts with a seed-independent workload: the lengths are a fixed
    spread over 10-99 tokens, and a doc of length L holds
    round(L * 14/30) entity tokens, the vocabulary's entity share (the
    extraction emits about k^2 triples for k entity tokens). Only the
    assignment of lengths to doc ids and the words are drawn from the
    seed. A near-duplicate copies the doc one length rank below it and
    appends ``dup``."""
    rng = random.Random(seed)
    ents = sorted(set(VOCAB) & ENTITY_WORDS)
    plain = sorted(set(VOCAB) - ENTITY_WORDS)
    lengths = [10 + (r * 90) // n_docs for r in range(n_docs)]
    dup_ranks = set(rng.sample(range(1, n_docs), round(n_docs * DUP_SHARE)))
    by_rank: list[str] = []
    for r, n in enumerate(lengths):
        if r in dup_ranks:
            by_rank.append(by_rank[r - 1] + " dup")
            continue
        k = round(n * len(ents) / len(VOCAB))
        toks = rng.choices(ents, k=k) + rng.choices(plain, k=n - k)
        rng.shuffle(toks)
        by_rank.append(" ".join(toks))
    doc_rank = list(range(n_docs))
    rng.shuffle(doc_rank)
    return [by_rank[r] for r in doc_rank]


def write_documents(path: str, seed: int, n_docs: int) -> None:
    texts = document_texts(seed, n_docs)
    rng = random.Random(seed + 1)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(range(n_docs), pa.int64()),
                "text": texts,
                "lang": [rng.choice(LANGS) for _ in range(n_docs)],
                "source": [f"src{i % 20}" for i in range(n_docs)],
                "n_chars": pa.array([len(t) for t in texts], pa.int64()),
            }
        ),
        path,
    )


def write_embeddings(path: str, seed: int, n_vecs: int, dim: int = 64) -> None:
    rng = np.random.default_rng(seed)
    m = rng.standard_normal((n_vecs, dim)).astype(np.float32)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(n_vecs), pa.int64()),
                "embedding": pa.array(list(m), pa.list_(pa.float32())),
                "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
            }
        ),
        path,
    )
