"""Seeded input generators. Everything here is numpy / hashlib / plain
file I/O: no Spark work happens while inputs are made, and the program
under test only ever receives the files written here.

Each workload gets a database (written once per run) and a stream of
operation batches; ``batch(j)`` for a given seed is always the same
bytes, and no two batch indices share an input.
"""

from __future__ import annotations

import hashlib
import json

import numpy as np

AMINO = np.array(list("ACDEFGHIKLMNPQRSTVWY"))
#: Robinson & Robinson background frequencies, in AMINO order, so that
#: the masking and similar-k-mer layers see realistic composition
AMINO_FREQ = np.array([
    7.805, 1.925, 5.364, 6.295, 3.856, 7.377, 2.199, 5.142, 5.744, 9.019,
    2.243, 4.487, 5.203, 4.264, 5.129, 7.120, 5.841, 6.441, 1.330, 3.216,
])
AMINO_FREQ = AMINO_FREQ / AMINO_FREQ.sum()


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, *stream])


# --- sequences --------------------------------------------------------------


def protein_db(seed: int, n: int, min_len: int, max_len: int) -> list[str]:
    rng = _rng(seed, 0)
    lens = rng.integers(min_len, max_len + 1, n)
    return ["".join(rng.choice(AMINO, size=int(ln), p=AMINO_FREQ)) for ln in lens]


def mutate(rng: np.random.Generator, seq: str, rate: float) -> str:
    """Substitution-only homolog: each residue is redrawn with ``rate``."""
    s = np.array(list(seq))
    hit = rng.random(len(s)) < rate
    s[hit] = rng.choice(AMINO, size=int(hit.sum()), p=AMINO_FREQ)
    return "".join(s)


def write_fasta(path: str, records: list[tuple[str, str]]) -> None:
    with open(path, "w") as f:
        for acc, seq in records:
            f.write(f">{acc}\n")
            for i in range(0, len(seq), 60):
                f.write(seq[i : i + 60] + "\n")


def db_records(db: list[str]) -> list[tuple[str, str]]:
    return [(f"t{i}", s) for i, s in enumerate(db)]


def query_batch(
    seed: int, j: int, db: list[str], n_queries: int, min_len: int, max_len: int
) -> tuple[list[tuple[str, str]], dict[str, str]]:
    """Batch ``j``: about half the queries are mutated copies of database
    sequences (planted homologs), the rest unrelated random sequences.
    Returns the FASTA records and {planted query accession: source
    target accession}."""
    rng = _rng(seed, 1, j)
    records, planted = [], {}
    for i in range(n_queries):
        if i % 2 == 0:
            src = int(rng.integers(len(db)))
            acc = f"h{j}_{i}"
            records.append((acc, mutate(rng, db[src], float(rng.uniform(0.05, 0.15)))))
            planted[acc] = f"t{src}"
        else:
            ln = int(rng.integers(min_len, max_len + 1))
            records.append((f"r{j}_{i}", "".join(rng.choice(AMINO, size=ln, p=AMINO_FREQ))))
    return records, planted


def probe_query(seed: int, j: int, db: list[str]) -> tuple[list[tuple[str, str]], dict[str, str]]:
    """One planted homolog per probe."""
    rng = _rng(seed, 2, j)
    src = int(rng.integers(len(db)))
    acc = f"p{j}"
    return [(acc, mutate(rng, db[src], float(rng.uniform(0.05, 0.15))))], {acc: f"t{src}"}


# --- text corpus ------------------------------------------------------------

#: shared boilerplate shorter than the decontamination n-gram (8 words),
#: so that it is a corpus-wide hot shingle without marking every
#: document as eval-contaminated
BOILERPLATE = "home about contact privacy terms"
VOCAB = 5000
EVAL_MOD = 7  # mirrors corpus.EVAL_MOD: doc_id % 7 == 0 is the eval split


def doc_id_of(doc_key: str) -> int:
    """Python twin of portable.hash64 (md5 prefix, 60 bits)."""
    return int(hashlib.md5(doc_key.encode()).hexdigest()[:15], 16)


def jsonl_batch(seed: int, j: int, n_docs: int) -> tuple[list[str], dict[str, int]]:
    """One JSONL dump of ``n_docs`` lines with near-dups, exact dups,
    shared boilerplate, repetitive (low-quality) docs, malformed lines,
    null-field lines and eval-overlapping train docs. Returns the lines
    and the planted counts the curate accounting must reproduce."""
    rng = _rng(seed, 3, j)
    lines: list[str] = []
    texts: list[list[str]] = []  # words of each well-formed doc
    evals: list[list[str]] = []  # ... of those in the eval split
    planted = {"malformed": 0, "null_fields": 0}
    for i in range(n_docs):
        roll = rng.random()
        key = f"b{j}-d{i}"
        if roll < 0.02:
            good = json.dumps({"id": key, "text": "x y z", "lang": "en"})
            lines.append(good[: int(rng.integers(5, len(good) - 2))])
            planted["malformed"] += 1
            continue
        if roll < 0.035:
            lines.append(json.dumps({"lang": "en", "source": "src1"}))
            planted["null_fields"] += 1
            continue
        if roll < 0.12 and texts:
            # near-dup: an earlier doc with one word replaced
            words = list(texts[int(rng.integers(len(texts)))])
            words[int(rng.integers(len(words)))] = f"w{int(rng.integers(VOCAB))}"
        elif roll < 0.15 and texts:
            words = list(texts[int(rng.integers(len(texts)))])  # exact dup
        elif roll < 0.18:
            unit = [f"w{int(x)}" for x in rng.integers(VOCAB, size=3)]
            words = unit * int(rng.integers(8, 20))  # fails the Gopher rules
        else:
            words = [f"w{int(x)}" for x in rng.integers(VOCAB, size=int(rng.integers(20, 90)))]
            if roll < 0.25 and evals:
                # eval overlap: splice a 10-word passage of an eval doc
                src = evals[int(rng.integers(len(evals)))]
                at = int(rng.integers(max(1, len(src) - 10)))
                words[5:5] = src[at : at + 10]
        texts.append(words)
        if doc_id_of(key) % EVAL_MOD == 0:
            evals.append(words)
        text = BOILERPLATE + " " + " ".join(words)
        lines.append(json.dumps(
            {"id": key, "text": text, "lang": "en", "source": f"src{int(rng.integers(20))}"}
        ))
    return lines, planted


def write_lines(path: str, lines: list[str]) -> None:
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
