"""Seeded, single-process corpus generator.

Everything the benchmark feeds the program comes from here: a Zipf
lexicon, a WordPiece vocabulary covering it, lognormal-length documents
(fixed shares of them non-ASCII or junk with a low ``score``) and
planted exact and near duplicates.  The program only ever sees the ``doc_id``/``text``/
``score`` parquet; the ground-truth labels stay in the benchmark.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa

ASCII_LETTERS = "etaoinshrdlcumwfgypbvkjxqz"
# rough English letter frequencies for the letters above
ASCII_WEIGHTS = np.array(
    [12.7, 9.1, 8.2, 7.5, 7.0, 6.7, 6.3, 6.1, 6.0, 4.3, 4.0, 2.8, 2.8,
     2.4, 2.4, 2.2, 2.0, 2.0, 1.9, 1.5, 1.0, 0.8, 0.2, 0.2, 0.1, 0.1]
)
NON_ASCII_LETTERS = "éèüöäßñçøåłžšœабвгдежзиклмнопрстуфωλπσ"
SPECIAL_TOKENS = ["[PAD]", "[UNK]", "[CLS]", "[SEP]", "[MASK]"]
PUNCT = [".", ",", ";", "!", "?", "(", ")"]

LEXICON_SIZE = 6000
NON_ASCII_WORD_SHARE = 0.15
ZIPF_S = 1.07
DOC_WORDS_MEDIAN = 70.0
DOC_WORDS_SIGMA = 0.6
DOC_WORDS_MIN, DOC_WORDS_MAX = 12, 900
NON_ASCII_DOC_SHARE = 0.08
JUNK_SHARE = 0.05
JUNK_SCORE_MAX = 0.2
# near copies: one word in NEAR_EDIT_EVERY replaced (at least one), so
# their 3-shingle Jaccard with the source stays near 0.85-0.9
NEAR_EDIT_EVERY = 50
NEAR_MIN_WORDS = 40

KIND_ORIGINAL, KIND_EXACT, KIND_NEAR = 0, 1, 2


@dataclass
class Lexicon:
    words: list
    cdf: np.ndarray  # cumulative Zipf probabilities over ``words``
    non_ascii: np.ndarray  # indices of non-ASCII words
    vocab: list  # WordPiece vocabulary, id = position


def make_lexicon(rng: np.random.Generator) -> Lexicon:
    words: list = []
    seen = set()
    n_non_ascii = int(LEXICON_SIZE * NON_ASCII_WORD_SHARE)
    p_ascii = ASCII_WEIGHTS / ASCII_WEIGHTS.sum()
    while len(words) < LEXICON_SIZE:
        n = int(rng.integers(2, 10))
        letters = rng.choice(len(ASCII_LETTERS), size=n, p=p_ascii)
        w = "".join(ASCII_LETTERS[i] for i in letters)
        if len(words) >= LEXICON_SIZE - n_non_ascii:
            pos = int(rng.integers(0, n))
            ch = NON_ASCII_LETTERS[int(rng.integers(len(NON_ASCII_LETTERS)))]
            w = w[:pos] + ch + w[pos + 1:]
        if w not in seen:
            seen.add(w)
            words.append(w)
    # shuffle so non-ASCII words are spread over the Zipf ranks
    order = rng.permutation(LEXICON_SIZE)
    words = [words[i] for i in order]
    ranks = np.arange(1, LEXICON_SIZE + 1, dtype=np.float64)
    probs = 1.0 / (ranks + 2.7) ** ZIPF_S
    cdf = np.cumsum(probs / probs.sum())
    non_ascii = np.array(
        [i for i, w in enumerate(words) if not w.isascii()], dtype=np.int64
    )
    # WordPiece vocab: specials, punctuation, every letter as a word
    # start and as a continuation, the most frequent half of the lexicon
    # whole, and the 3-letter tails of the rest as continuations — so
    # frequent words are one piece and rare ones split into a few
    vocab = list(SPECIAL_TOKENS) + PUNCT
    for ch in ASCII_LETTERS + NON_ASCII_LETTERS:
        vocab += [ch, "##" + ch]
    vocab += words[: LEXICON_SIZE // 2]
    vocab += sorted({"##" + w[-3:] for w in words[LEXICON_SIZE // 2:] if len(w) > 3})
    vocab = list(dict.fromkeys(vocab))
    return Lexicon(words, cdf, non_ascii, vocab)


def _doc_text(rng: np.random.Generator, lex: Lexicon, idx: np.ndarray, non_ascii: bool) -> str:
    n_words = len(idx)
    if non_ascii:
        swap = rng.random(n_words) < 0.3
        idx[swap] = rng.choice(lex.non_ascii, size=int(swap.sum()))
    toks = [lex.words[i] for i in idx]
    # sentences of 6-20 words: capitalised start, a trailing full stop,
    # the odd comma — exercises case folding and punctuation splitting
    out = []
    i = 0
    while i < n_words:
        j = min(n_words, i + int(rng.integers(6, 21)))
        sent = toks[i:j]
        sent[0] = sent[0].capitalize()
        if len(sent) > 6 and rng.random() < 0.5:
            k = int(rng.integers(2, len(sent) - 2))
            sent[k] = sent[k] + ","
        out.append(" ".join(sent) + ".")
        i = j
    return " ".join(out)


def _mutate(rng: np.random.Generator, lex: Lexicon, text: str) -> str:
    toks = text.split(" ")
    n_edit = max(1, len(toks) // NEAR_EDIT_EVERY)
    for pos in rng.choice(len(toks), size=n_edit, replace=False):
        toks[pos] = lex.words[int(rng.integers(LEXICON_SIZE))]
    return " ".join(toks)


@dataclass
class Corpus:
    """One generated collection: the program's table plus labels."""

    table: pa.Table  # doc_id, text, score
    kind: np.ndarray  # KIND_* per row, aligned with table
    source: np.ndarray  # doc_id a planted copy was made from, else -1
    junk: np.ndarray  # True where the quality filter must drop the doc


def make_corpus(
    rng: np.random.Generator,
    lex: Lexicon,
    n_docs: int,
    first_id: int,
    exact_share: float,
    near_share: float,
    history: "Corpus | None" = None,
) -> Corpus:
    """``n_docs`` documents with ids ``first_id..``; a share are planted
    copies of originals — drawn from this collection, or from
    ``history`` (the earlier ingest batches) when given.  Copies always
    get higher ids than their sources, so a keep-the-first dedup must
    drop exactly the copies."""
    n_exact = int(round(n_docs * exact_share))
    n_near = int(round(n_docs * near_share))
    n_orig = n_docs - n_exact - n_near
    lengths = np.clip(
        rng.lognormal(np.log(DOC_WORDS_MEDIAN), DOC_WORDS_SIGMA, n_orig),
        DOC_WORDS_MIN,
        DOC_WORDS_MAX,
    ).astype(np.int64)
    non_ascii = rng.random(n_orig) < NON_ASCII_DOC_SHARE
    word_idx = np.searchsorted(lex.cdf, rng.random(int(lengths.sum())))
    word_idx = np.minimum(word_idx, LEXICON_SIZE - 1)
    bounds = np.cumsum(lengths)[:-1]
    texts = [
        _doc_text(rng, lex, idx, bool(na))
        for idx, na in zip(np.split(word_idx, bounds), non_ascii)
    ]
    junk = rng.random(n_orig) < JUNK_SHARE
    score = np.where(
        junk, rng.uniform(0.0, JUNK_SCORE_MAX, n_orig), rng.uniform(0.3, 1.0, n_orig)
    )
    ids = np.arange(first_id, first_id + n_orig, dtype=np.int64)
    kind = np.full(n_orig, KIND_ORIGINAL)
    source = np.full(n_orig, -1, dtype=np.int64)

    if history is not None:
        pool_ids = history.table.column("doc_id").to_numpy()
        pool_texts = history.table.column("text").to_pylist()
        ok = (history.kind == KIND_ORIGINAL) & ~history.junk
    else:
        pool_ids, pool_texts = ids, texts
        ok = ~junk
    near_ok = ok & np.array([t.count(" ") + 1 >= NEAR_MIN_WORDS for t in pool_texts])
    exact_src = rng.choice(np.flatnonzero(ok), size=n_exact)
    near_src = rng.choice(np.flatnonzero(near_ok), size=n_near, replace=False)
    copy_texts = [pool_texts[i] for i in exact_src] + [
        _mutate(rng, lex, pool_texts[i]) for i in near_src
    ]
    n_copy = n_exact + n_near
    texts += copy_texts
    ids = np.concatenate([ids, np.arange(ids[-1] + 1, ids[-1] + 1 + n_copy)])
    kind = np.concatenate([kind, [KIND_EXACT] * n_exact, [KIND_NEAR] * n_near])
    source = np.concatenate([source, pool_ids[exact_src], pool_ids[near_src]])
    junk = np.concatenate([junk, np.zeros(n_copy, dtype=bool)])
    score = np.concatenate([score, rng.uniform(0.3, 1.0, n_copy)])
    # rows land in the file in random order, not id order
    perm = rng.permutation(n_docs)
    table = pa.table(
        {
            "doc_id": pa.array(ids[perm], pa.int64()),
            "text": pa.array([texts[i] for i in perm], pa.string()),
            "score": pa.array(score[perm], pa.float64()),
        }
    )
    return Corpus(table, kind[perm], source[perm], junk[perm])


def concat(corpora: list) -> Corpus:
    return Corpus(
        pa.concat_tables([c.table for c in corpora]),
        np.concatenate([c.kind for c in corpora]),
        np.concatenate([c.source for c in corpora]),
        np.concatenate([c.junk for c in corpora]),
    )
