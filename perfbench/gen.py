"""Seeded input generators for the three benchmark workloads.

Each generator is a pure function of its arguments (one
``numpy.random.default_rng(seed)`` stream, no wall clock) and returns
the input table as a pandas frame plus its by-construction truth:

- ``clean_transcripts``: ``kg.datagen`` transcripts unchanged, with a
  hot conversation; every entity surface is a dictionary variant, so
  no mention reaches the canonicalization tail.
- ``noisy_transcripts``: the same renderers driven by this module's
  own conversation loop, so cross-turn gold is known separately, plus
  character typos injected into entity tokens (typo surfaces miss the
  dictionary and feed ``canon``).
- ``dup_corpus``: a near-duplicate document corpus whose survivors are
  known by construction: one survivor (the minimum ``doc_id``) per
  cluster, with a few hot clusters larger than ``spec.BLOCK_CAP``.

The noisy and corpus generators emit an exact row count, so a seed
changes the content of a workload but not its size.

``materialize`` writes a generated table once into a cache directory
keyed by (workload, seed, size, ``GEN_VERSION``), as exactly
``N_FILES`` parquet files whatever the writer's parallelism.
"""

from __future__ import annotations

import json
import os
import re
import shutil
from datetime import timedelta

import numpy as np
import pandas as pd

from kg import datagen, spec

#: bump whenever a generator's output changes for a given seed
GEN_VERSION = 2
#: parquet files per cached table — fixed so the read layout (and so
#: the scan parallelism) never depends on who wrote the cache
N_FILES = 8

_WORD = re.compile(r"[A-Za-z]+")


def clean_transcripts(seed: int, n_conversations: int,
                      skew_factor: int = 100) -> tuple[pd.DataFrame, dict]:
    """``kg.datagen.generate`` output: the production-default input."""
    pdf, gold = datagen.generate(n_conversations=n_conversations, seed=seed,
                                 skew_factor=skew_factor)
    return pdf, {"gold": [list(t) for t in gold], "xturn_gold": 0}


def _entity_tokens() -> frozenset[str]:
    """Capitalized letter-only tokens of dictionary variants, at least
    four letters long (shorter ones are initials and suffixes)."""
    toks = set()
    for e in spec.entity_inventory():
        for v in e["variants"]:
            toks.update(t for t in _WORD.findall(v)
                        if len(t) >= 4 and t[0].isupper())
    return frozenset(toks)


def _typo(tok: str, rng: np.random.Generator) -> str:
    """One interior character edit (substitute, delete, swap or
    double); the first letter stays so the result is still a
    capitalized mention candidate."""
    i = int(rng.integers(1, len(tok) - 1))
    op = int(rng.integers(4))
    c = "abcdefghijklmnopqrstuvwxyz"[int(rng.integers(26))]
    if op == 0:
        return tok[:i] + c + tok[i + 1:]
    if op == 1:
        return tok[:i] + tok[i + 1:]
    if op == 2:
        return tok[:i] + tok[i + 1] + tok[i] + tok[i + 2:]
    return tok[:i] + tok[i] + tok[i:]


def noisy_transcripts(seed: int, n_turns: int,
                      mean_turns: int = 8,
                      pct_entity_bearing: float = 0.6,
                      pct_cross_turn: float = 0.1,
                      typo_rate: float = 0.1) -> tuple[pd.DataFrame, dict]:
    """Exactly ``n_turns`` turns with cross-turn relations and
    entity-token typos (conversations are drawn until the turn budget
    is spent; the last one is cut short).

    The conversation loop mirrors ``datagen.generate`` but keeps the
    gold of cross-turn instances apart, so the truth records how many
    gold triples only a ``cross_turn_k >= 1`` run can find. Gold is
    stated on canonical names: a typo surface is still the entity."""
    rng = np.random.default_rng(seed)
    ent_toks = _entity_tokens()
    vocab = spec.vocabulary()
    rows = []
    gold_intra: set[tuple] = set()
    gold_cross: set[tuple] = set()

    def typoed(text: str) -> str:
        def sub(m):
            t = m.group(0)
            if t in ent_toks and rng.random() < typo_rate:
                out = _typo(t, rng)
                # an edit that lands on a known word would not be a miss
                return t if out.lower() in vocab else out
            return t
        return _WORD.sub(sub, text)

    ci = 0
    while len(rows) < n_turns:
        conv_id = f"c{ci:08d}"
        base_ts = datagen.EPOCH + timedelta(minutes=ci)
        n = min(max(int(rng.geometric(1.0 / mean_turns)), 2),
                n_turns - len(rows))
        pending = None
        for ti in range(n):
            role = "user" if ti % 2 == 0 else "assistant"
            if pending is not None:
                text, pending = pending, None
            elif ti + 1 < n and rng.random() < pct_cross_turn:
                text, pending, rel, s, o = datagen.render_cross_instance(rng)
                if rel != spec.NA_RELATION:
                    gold_cross.add((s, rel, o))
            elif rng.random() < pct_entity_bearing:
                text, rel, s, o = datagen.render_instance(rng)
                if rel != spec.NA_RELATION:
                    gold_intra.add((s, rel, o))
            else:
                text = " ".join(rng.choice(spec.FILLER_VOCAB,
                                           size=int(rng.integers(5, 26))))
            rows.append((conv_id, ti, role, typoed(text), None,
                         base_ts + timedelta(seconds=ti)))
        ci += 1
    pdf = pd.DataFrame(
        rows, columns=["conv_id", "turn_idx", "role", "text", "tool", "ts"])
    pdf["turn_idx"] = pdf["turn_idx"].astype("int32")
    pdf = pdf.iloc[rng.permutation(len(pdf))].reset_index(drop=True)
    gold = sorted(gold_intra | gold_cross)
    return pdf, {"gold": [list(t) for t in gold],
                 "xturn_gold": len(gold_cross - gold_intra)}


def dup_corpus(seed: int, n_docs: int,
               hot_clusters: int = 4, hot_size: int = 96,
               dup_rate: float = 0.3, max_copies: int = 6,
               vocab_size: int = 4000) -> tuple[pd.DataFrame, dict]:
    """Exactly ``n_docs`` documents in near-duplicate clusters whose
    survivors are known by construction.

    ``hot_clusters`` base documents of 40–90 words gain ``hot_size``
    near copies each (one word replaced: 3-word-shingle Jaccard ≈ 0.9,
    over the corpus τ of 0.5); most of a hot cluster's minhash bands
    are then shared by more than ``spec.BLOCK_CAP`` members, so LSH
    drops those buckets. Further bases follow until the budget is
    spent, a ``dup_rate`` share of them with 1..``max_copies`` copies,
    each an exact copy or a near copy. Unrelated documents share almost
    no shingles. Doc ids are a random permutation, and a cluster's
    expected survivor is its minimum id."""
    rng = np.random.default_rng(seed)
    vocab = np.array([f"w{i}" for i in range(vocab_size)])
    stop = np.array(spec.STOPWORDS)
    texts: list[str] = []
    cluster: list[int] = []
    c = 0
    while len(texts) < n_docs:
        n = int(rng.integers(40, 91))
        base = rng.choice(vocab, size=n)
        # every fourth word a stopword: clears the QC stopword floor
        base[::4] = rng.choice(stop, size=len(base[::4]))
        base = list(base)
        hot = c < hot_clusters
        if hot:
            copies = hot_size
        else:
            copies = (int(rng.integers(1, max_copies + 1))
                      if rng.random() < dup_rate else 0)
        copies = min(copies, n_docs - len(texts) - 1)
        texts.append(" ".join(base))
        cluster.append(c)
        for _ in range(copies):
            doc = list(base)
            if hot or rng.random() < 0.5:
                doc[int(rng.integers(n))] = f"v{int(rng.integers(1 << 30))}"
            texts.append(" ".join(doc))
            cluster.append(c)
        c += 1
    ids = rng.permutation(len(texts)).astype(np.int64)
    cl = np.array(cluster)
    by_cluster = pd.Series(ids).groupby(cl)
    pdf = pd.DataFrame({"doc_id": ids, "text": texts})
    pdf = pdf.iloc[rng.permutation(len(pdf))].reset_index(drop=True)
    return pdf, {"survivors": sorted(int(x) for x in by_cluster.min()),
                 "hot_members": sorted(int(x) for x in ids[cl < hot_clusters]),
                 "near_dup_clusters": int((by_cluster.size() > 1).sum())}


GENERATORS = {
    "clean": clean_transcripts,
    "noisy": noisy_transcripts,
    "corpus": dup_corpus,
}


def _write_parts(pdf: pd.DataFrame, out: str, key: str) -> None:
    """Write ``pdf`` as ``N_FILES`` parquet files; rows go to files by
    a stable function of ``key`` (all turns of a conversation share a
    file), rows within a file keep their generated order."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    k = pdf[key]
    slot = (k.str[1:].astype(np.int64) if k.dtype == object
            else k.astype(np.int64)) % N_FILES
    for i in range(N_FILES):
        part = pdf[slot.to_numpy() == i]
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False),
                       os.path.join(out, f"part-{i:05d}.parquet"),
                       coerce_timestamps="us",
                       allow_truncated_timestamps=True)


def materialize(cache_root: str, kind: str, seed: int,
                size: int) -> tuple[str, dict]:
    """Return (parquet dir, truth) for one generated table, writing it
    on a cache miss. The directory name is the cache key; a table is
    visible only after its directory is renamed into place."""
    name = f"{kind}-s{seed}-n{size}-v{GEN_VERSION}"
    path = os.path.join(cache_root, name)
    truth_path = os.path.join(path, "truth.json")
    if not os.path.exists(truth_path):
        pdf, truth = GENERATORS[kind](seed, size)
        truth["rows"] = len(pdf)
        tmp = f"{path}.tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(os.path.join(tmp, "data"))
        _write_parts(pdf, os.path.join(tmp, "data"),
                     "doc_id" if kind == "corpus" else "conv_id")
        with open(os.path.join(tmp, "truth.json"), "w") as f:
            json.dump(truth, f)
        shutil.rmtree(path, ignore_errors=True)
        os.replace(tmp, path)
    with open(truth_path) as f:
        return os.path.join(path, "data"), json.load(f)
