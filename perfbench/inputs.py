"""Seeded input generators for the workloads, cached on disk.

Every generator is a pure function of (seed, sizes): it returns the
in-memory records the checks need and, on a cache miss, writes the parquet
files Spark reads. The parquet files are kept under
``.perfbench/inputs/<workload>-<seed>-<sizes>/`` so a repeated (workload,
seed) pair skips the write; nothing here runs inside a timed region.
"""

from __future__ import annotations

import os
import random
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Bump when a generator changes, so stale cached files are not reused.
GENERATOR_VERSION = 2

SPANS_ARROW_SCHEMA = pa.schema(
    [
        ("doc_id", pa.string()),
        ("fmt", pa.string()),
        ("title", pa.string()),
        ("author", pa.string()),
        (
            "spans",
            pa.list_(
                pa.struct(
                    [
                        ("kind", pa.string()),
                        ("text", pa.string()),
                        ("media_ref", pa.string()),
                        ("offset", pa.int32()),
                    ]
                )
            ),
        ),
    ]
)

TEXT_ARROW_SCHEMA = pa.schema([("doc_id", pa.string()), ("text", pa.string())])

VEC_ARROW_SCHEMA = pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32()))])


def cached_dir(cache_root: Path, key: str, write) -> Path:
    """``cache_root/key``, calling ``write(tmp_dir)`` first if it is absent.

    The files land in a temporary sibling that is renamed into place, so a
    run killed half-way never leaves a partial directory behind the key.
    """
    final = cache_root / key
    if final.is_dir():
        return final
    tmp = cache_root / f".{key}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    write(tmp)
    try:
        os.rename(tmp, final)
    except OSError:  # another run renamed the same key first
        shutil.rmtree(tmp, ignore_errors=True)
    return final


def _write_parts(table: pa.Table, out_dir: Path, parts: int) -> None:
    out_dir.mkdir(parents=True, exist_ok=True)
    n = table.num_rows
    for p in range(parts):
        idx = np.arange(p, n, parts)
        pq.write_table(table.take(idx), out_dir / f"part-{p:03d}.parquet")


# --- extract_batch -----------------------------------------------------------

#: A generated document with at least this many spans belongs to the
#: giant-PDF tail of ``testing.fixtures.make_doc`` (2,000-5,000 spans,
#: against a lognormal body around 40).
GIANT_SPANS = 1500


def extract_corpus(seed: int, n_docs: int, giant_share: float, permuted_share: float):
    """Generated docs (``testing.fixtures.make_doc``) plus the golden docs.

    The giant tail is fixed at ``round(n_docs * giant_share)`` documents
    instead of left to chance, so runs at different seeds carry the same
    amount of work. ``permuted_share`` of the generated docs get their span
    array shuffled (each span keeps its offset), which sends them through
    the extraction operator's re-sort branch.

    Returns (docs, golden_ids): docs are dicts with ``doc_id, fmt, title,
    author, spans`` where spans are (kind, text, media_ref, offset) in
    stored (possibly permuted) order.
    """
    from ebook_conversion_to_text_for_machine_learning_spark.testing.fixtures import (
        GOLDEN_DOCS,
        make_doc,
    )

    n_giant = round(n_docs * giant_share)
    giants, regular, i = [], [], 0
    while len(giants) < n_giant or len(regular) < n_docs - n_giant:
        doc = make_doc(i, seed)
        i += 1
        if len(doc["spans"]) >= GIANT_SPANS:
            if len(giants) < n_giant:
                giants.append(doc)
        elif len(regular) < n_docs - n_giant:
            regular.append(doc)
    rng = random.Random(f"perfbench:{seed}:permute")
    for doc in giants + regular:
        if rng.random() < permuted_share:
            spans = list(doc["spans"])
            rng.shuffle(spans)
            doc["spans"] = spans
    rng.shuffle(regular)
    golden = [dict(doc) for doc, _ in GOLDEN_DOCS]
    # Giants first: written round-robin into the input files, they spread
    # evenly over the files, so the slowest task carries the same share of
    # the tail at every seed.
    return giants + regular + golden, [d["doc_id"] for d in golden]


def write_extract_corpus(docs, out_dir: Path, parts: int) -> None:
    table = pa.Table.from_pylist(
        [
            {
                "doc_id": d["doc_id"],
                "fmt": d["fmt"],
                "title": d["title"],
                "author": d["author"],
                "spans": [
                    {"kind": k, "text": t, "media_ref": r, "offset": o}
                    for k, t, r, o in d["spans"]
                ],
            }
            for d in docs
        ],
        schema=SPANS_ARROW_SCHEMA,
    )
    _write_parts(table, out_dir, parts)


# --- near-dup ingest ----------------------------------------------------------

#: Tokens per generated doc are drawn from [MIN_TOKENS, MAX_TOKENS]. The
#: Jaccard > 0.9 guarantee of a planted dup rests on MIN_TOKENS >= 80.
MIN_TOKENS = 80
MAX_TOKENS = 200
#: Length of the base corpus's one long doc.
LONG_TOKENS = 1500
VOCAB_SIZE = 40000


class NearDupCorpus:
    """Base corpus + arriving batches with planted near-duplicates.

    Text is drawn from a large synthetic vocabulary, so two unrelated docs
    share practically no word 3-shingle and every true near-dup pair is one
    the generator planted. A planted dup copies its source and replaces one
    token; with at least ``MIN_TOKENS`` tokens that keeps the shingle
    Jaccard above 0.9, where MinHash (K=16, r=2) misses a pair with
    probability below 1e-6. Each batch plants ``n_dups`` dups: one copies
    the base corpus's long doc (``LONG_TOKENS``, the huge-shingle-set case
    of the verify), the others copy, half and half, a doc already in the
    index (a base doc or a novel doc of an earlier batch) and a doc earlier
    in the same batch. A copy always sorts after its source, so the
    intra-batch keeper rule flags the copy. Every batch carries the same
    number of docs, dups and long docs, so every call does the same work.
    """

    def __init__(
        self,
        seed: int,
        *,
        n_base: int,
        batch_docs: int,
        n_batches: int,
        n_dups: int,
    ) -> None:
        rng = random.Random(f"perfbench:{seed}:near_dup")
        letters = "abcdefghijklmnopqrstuvwxyz"
        vocab: set[str] = set()
        while len(vocab) < VOCAB_SIZE:
            vocab.add("".join(rng.choice(letters) for _ in range(rng.randint(4, 10))))
        words = sorted(vocab)
        self.text: dict[str, str] = {}

        def fresh(n_tokens: int | None = None) -> str:
            n = n_tokens or rng.randint(MIN_TOKENS, MAX_TOKENS)
            return " ".join(rng.choice(words) for _ in range(n))

        def mutate(text: str) -> str:
            toks = text.split(" ")
            toks[rng.randrange(len(toks))] = rng.choice(words)
            return " ".join(toks)

        self.base_ids = [f"base-{i:05d}" for i in range(n_base)]
        long_id = self.base_ids[0]
        self.text[long_id] = fresh(LONG_TOKENS)
        for doc_id in self.base_ids[1:]:
            self.text[doc_id] = fresh()
        indexed = self.base_ids[1:]
        #: per batch: list of doc ids in batch order
        self.batches: list[list[str]] = []
        #: planted dup id -> (source id, "index" | "intra")
        self.planted: dict[str, tuple[str, str]] = {}
        half = batch_docs // 2
        for b in range(n_batches):
            ids = [f"batch{b:04d}-{j:04d}" for j in range(batch_docs)]
            # Dups sit in the second half; intra dups copy the first half.
            slots = rng.sample(range(half, batch_docs), n_dups)
            sources = [long_id] + [
                rng.choice(indexed) if k % 2 else ids[rng.randrange(half)]
                for k in range(1, n_dups)
            ]
            dup_src = dict(zip(slots, sources))
            for j, doc_id in enumerate(ids):
                src = dup_src.get(j)
                if src is None:
                    self.text[doc_id] = fresh()
                    continue
                kind = "intra" if src in ids else "index"
                self.planted[doc_id] = (src, kind)
                self.text[doc_id] = mutate(self.text[src])
            indexed += [d for d in ids if d not in self.planted]
            self.batches.append(ids)

    def write(self, out_dir: Path, parts: int) -> None:
        def table(ids):
            return pa.Table.from_pydict(
                {"doc_id": ids, "text": [self.text[d] for d in ids]},
                schema=TEXT_ARROW_SCHEMA,
            )

        _write_parts(table(self.base_ids), out_dir / "base", parts)
        for b, ids in enumerate(self.batches):
            _write_parts(table(ids), out_dir / f"batch={b}", parts)


def shingles(text: str) -> set[str]:
    """Word 3-gram shingles as ``operators.dedup.shingles_col`` builds them
    (split on runs of spaces, empties dropped)."""
    toks = [t for t in text.split(" ") if t]
    return {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}


# --- ann_probe ---------------------------------------------------------------


class _LocalFrame:
    """Just enough of ``spark.range(n)`` for ``planted_embeddings``: its
    per-batch generator runs in this process on one pandas frame of ids."""

    def __init__(self, n: int) -> None:
        self._n = n

    def mapInPandas(self, fn, schema):
        import pandas as pd

        return fn(iter([pd.DataFrame({"id": np.arange(self._n, dtype=np.int64)})]))


class _LocalSpark:
    def range(self, n: int) -> _LocalFrame:
        return _LocalFrame(n)


def planted_vectors(seed: int, n: int, dim: int) -> np.ndarray:
    """Rows 0..n-1 of ``testing.corpus.planted_embeddings`` at ``seed``,
    as an (n, dim) float32 matrix, generated without a Spark session."""
    from ebook_conversion_to_text_for_machine_learning_spark.testing.corpus import (
        planted_embeddings,
    )

    frames = list(planted_embeddings(_LocalSpark(), n, dim, seed=seed))
    return np.stack([np.asarray(v, dtype=np.float32) for f in frames for v in f["embedding"]])


def write_vectors(vecs: np.ndarray, first_id: int, out_dir: Path, parts: int) -> None:
    ids = np.arange(first_id, first_id + len(vecs), dtype=np.int64)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vecs.reshape(-1)), vecs.shape[1])
    table = pa.Table.from_arrays(
        [pa.array(ids), emb.cast(pa.list_(pa.float32()))], schema=VEC_ARROW_SCHEMA
    )
    _write_parts(table, out_dir, parts)
