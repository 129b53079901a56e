"""A minimal, deterministic, dependency-free WordPiece tokenizer
implementing the public BERT wordpiece algorithm (greedy
longest-match-first with ``##`` continuation pieces; Devlin et al. 2019,
and the HuggingFace tokenizers documentation).

This exists so the tokenizer *mappers* are fully testable in
environments without ``transformers`` (the reference builds the same
kind of deterministic fixture: a 17-token BERT vocab written to a
tempfile, reference tests/test_prompting.py:57-83).  Any HF tokenizer
with the standard ``__call__``/``encode``/``decode`` surface can be
passed to the mappers instead.
"""

from __future__ import annotations

import re
import unicodedata
from typing import Dict, Iterable, List, Optional, Sequence, Tuple, Union

# one ASCII punctuation char (exactly the 33-47/58-64/91-96/123-126
# ranges _is_punct tests) or a run of non-space non-punct chars
_ASCII_TOKEN_RE = re.compile(r"[!-/:-@\[-`{-~]|[^\s!-/:-@\[-`{-~]+")


def basic_tokenize(text: str, lowercase: bool = True) -> List[Tuple[str, int, int]]:
    """Whitespace + punctuation splitting with char offsets (the BERT
    "basic tokenizer" step).  Returns (token, start, end) triples.

    ASCII text (the overwhelming hot path) is tokenized by one
    compiled-regex scan; the per-char loop below only runs for inputs
    with non-ASCII chars (where Unicode P* categories matter)."""
    if text.isascii():
        if lowercase:
            return [
                (m.group().lower(), m.start(), m.end())
                for m in _ASCII_TOKEN_RE.finditer(text)
            ]
        return [
            (m.group(), m.start(), m.end())
            for m in _ASCII_TOKEN_RE.finditer(text)
        ]
    tokens: List[Tuple[str, int, int]] = []
    i, n = 0, len(text)
    while i < n:
        ch = text[i]
        if ch.isspace():
            i += 1
            continue
        if _is_punct(ch):
            tokens.append((ch.lower() if lowercase else ch, i, i + 1))
            i += 1
            continue
        j = i
        while j < n and not text[j].isspace() and not _is_punct(text[j]):
            j += 1
        word = text[i:j]
        tokens.append((word.lower() if lowercase else word, i, j))
        i = j
    return tokens


def _is_punct(ch: str) -> bool:
    cp = ord(ch)
    if (
        (33 <= cp <= 47)
        or (58 <= cp <= 64)
        or (91 <= cp <= 96)
        or (123 <= cp <= 126)
    ):
        return True
    return unicodedata.category(ch).startswith("P")


class WordPieceTokenizer:
    """HF-compatible-enough tokenizer: ``__call__`` on str or list of
    str, ``encode``, ``decode``, ``batch_decode``; attributes
    ``pad_token_id``/``cls_token_id``/``sep_token_id``/``unk_token_id``
    and ``model_max_length``."""

    def __init__(
        self,
        vocab: Union[Sequence[str], Dict[str, int]],
        lowercase: bool = True,
        model_max_length: int = 512,
        pad_token: str = "[PAD]",
        unk_token: str = "[UNK]",
        cls_token: str = "[CLS]",
        sep_token: str = "[SEP]",
    ) -> None:
        if isinstance(vocab, dict):
            self.vocab = dict(vocab)
        else:
            self.vocab = {tok: i for i, tok in enumerate(vocab)}
        self.ids_to_tokens = {i: t for t, i in self.vocab.items()}
        self.lowercase = lowercase
        self.model_max_length = model_max_length
        self.pad_token, self.unk_token = pad_token, unk_token
        self.cls_token, self.sep_token = cls_token, sep_token
        self.pad_token_id = self.vocab.get(pad_token)
        self.unk_token_id = self.vocab.get(unk_token)
        self.cls_token_id = self.vocab.get(cls_token)
        self.sep_token_id = self.vocab.get(sep_token)
        self.pad_token_type_id = 0
        # BERT-style tokenizers have no bos/eos distinct from cls/sep
        self.bos_token_id = None
        self.eos_token_id = None
        self._wp_cache: Dict[str, List[Tuple[int, Tuple[int, int]]]] = {}

    def __getstate__(self) -> dict:
        # the word memo is derived state: leaving it out keeps the shipped
        # payload small and the pickle (the tokenizer fingerprint) a
        # function of the vocabulary and settings alone
        return {k: v for k, v in self.__dict__.items() if k != "_wp_cache"}

    def __setstate__(self, state: dict) -> None:
        self.__dict__.update(state)
        self._wp_cache = {}

    # -- core ------------------------------------------------------------

    def _wordpiece(
        self, word: str, start: int
    ) -> List[Tuple[int, Tuple[int, int]]]:
        """Greedy longest-match-first subword split of one word.
        Splits are word-relative and memoized (corpora repeat words far
        more than they introduce them), then shifted by ``start``."""
        cache = self._wp_cache
        rel = cache.get(word)
        if rel is None:
            if len(cache) >= 262_144:  # bound executor memory
                cache.clear()
            cache[word] = rel = self._wordpiece_rel(word)
        return [(i, (start + s, start + e)) for i, (s, e) in rel]

    def _wordpiece_rel(
        self, word: str
    ) -> List[Tuple[int, Tuple[int, int]]]:
        pieces: List[Tuple[int, Tuple[int, int]]] = []
        pos = 0
        n = len(word)
        while pos < n:
            end = n
            cur: Optional[int] = None
            cur_end = pos
            while end > pos:
                piece = word[pos:end]
                if pos > 0:
                    piece = "##" + piece
                if piece in self.vocab:
                    cur = self.vocab[piece]
                    cur_end = end
                    break
                end -= 1
            if cur is None:
                return [(self.unk_token_id, (0, n))]
            pieces.append((cur, (pos, cur_end)))
            pos = cur_end
        return pieces

    def tokenize_with_offsets(
        self, text: str
    ) -> List[Tuple[int, Tuple[int, int]]]:
        out: List[Tuple[int, Tuple[int, int]]] = []
        for word, s, _ in basic_tokenize(text, self.lowercase):
            out.extend(self._wordpiece(word, s))
        return out

    def encode(self, text: str, add_special_tokens: bool = True) -> List[int]:
        ids = [i for i, _ in self.tokenize_with_offsets(text)]
        if add_special_tokens:
            return [self.cls_token_id, *ids, self.sep_token_id]
        return ids

    def build_inputs_with_special_tokens(self, ids0, ids1=None):
        out = [self.cls_token_id, *ids0, self.sep_token_id]
        if ids1 is not None:
            out += [*ids1, self.sep_token_id]
        return out

    def _pieces_with_words(
        self, t: Union[str, Sequence[str]], is_split_into_words: bool
    ) -> List[Tuple[int, Tuple[int, int], int]]:
        """(piece_id, (start, end), word_index) triples for one sample.
        For pre-split input the offsets are within each word (matching
        HF fast-tokenizer behavior)."""
        pieces: List[Tuple[int, Tuple[int, int], int]] = []
        if is_split_into_words:
            for wi, w in enumerate(t):
                w = w.lower() if self.lowercase else w
                pieces += [
                    (pid, off, wi) for pid, off in self._wordpiece(w, 0)
                ]
        else:
            for wi, (word, s, _) in enumerate(
                basic_tokenize(t, self.lowercase)
            ):
                pieces += [
                    (pid, off, wi) for pid, off in self._wordpiece(word, s)
                ]
        return pieces

    def __call__(
        self,
        text: Union[str, Sequence[str], Sequence[Sequence[str]]],
        add_special_tokens: bool = True,
        max_length: Optional[int] = None,
        truncation: bool = False,
        is_split_into_words: bool = False,
        return_attention_mask: bool = True,
        return_token_type_ids: bool = False,
        return_special_tokens_mask: bool = False,
        return_offsets_mapping: bool = False,
        return_length: bool = False,
        return_overflowing_tokens: bool = False,
        stride: int = 0,
        **_: object,
    ) -> Dict[str, list]:
        if is_split_into_words:
            single = bool(text) and isinstance(text[0], str)
        else:
            single = isinstance(text, str)
        texts: Iterable = [text] if single else text
        out: Dict[str, list] = {"input_ids": [], "word_ids": []}
        for key, flag in (
            ("attention_mask", return_attention_mask),
            ("token_type_ids", return_token_type_ids),
            ("special_tokens_mask", return_special_tokens_mask),
            ("offset_mapping", return_offsets_mapping),
            ("length", return_length),
            ("overflow_to_sample_mapping", return_overflowing_tokens),
        ):
            if flag:
                out[key] = []
        limit = max_length or (
            self.model_max_length
            if (truncation or return_overflowing_tokens)
            else None
        )
        body = (
            limit - (2 if add_special_tokens else 0)
            if limit is not None
            else None
        )
        for sample_idx, t in enumerate(texts):
            pieces = self._pieces_with_words(t, is_split_into_words)
            if return_overflowing_tokens and body:
                # HF fast-tokenizer overflow: contiguous windows (with
                # `stride` overlap), flattened across the batch with a
                # sample-index mapping
                # windows advance by (body - stride) and stop at the
                # first window whose end reaches the sequence end —
                # continuing past it would re-emit trailing subsets HF
                # fast tokenizers never produce
                step = max(body - stride, 1)
                chunks = []
                k = 0
                while True:
                    chunks.append(pieces[k : k + body])
                    if k + body >= len(pieces):
                        break
                    k += step
            elif truncation and body is not None:
                chunks = [pieces[: max(body, 0)]]
            else:
                chunks = [pieces]
            for chunk in chunks:
                ids = [i for i, _, _ in chunk]
                offsets = [list(o) for _, o, _ in chunk]
                word_ids = [w for _, _, w in chunk]
                special = [0] * len(ids)
                if add_special_tokens:
                    ids = [self.cls_token_id, *ids, self.sep_token_id]
                    offsets = [[0, 0], *offsets, [0, 0]]
                    word_ids = [None, *word_ids, None]
                    special = [1, *special, 1]
                out["input_ids"].append(ids)
                out["word_ids"].append(word_ids)
                if return_attention_mask:
                    out["attention_mask"].append([1] * len(ids))
                if return_token_type_ids:
                    out["token_type_ids"].append([0] * len(ids))
                if return_special_tokens_mask:
                    out["special_tokens_mask"].append(special)
                if return_offsets_mapping:
                    out["offset_mapping"].append(offsets)
                if return_length:
                    out["length"].append(len(ids))
                if return_overflowing_tokens:
                    out["overflow_to_sample_mapping"].append(sample_idx)
        if single and not return_overflowing_tokens:
            return {k: v[0] for k, v in out.items()}
        return out

    # -- decoding --------------------------------------------------------

    def decode(
        self, ids: Sequence[int], skip_special_tokens: bool = False
    ) -> str:
        special = {self.pad_token_id, self.cls_token_id, self.sep_token_id}
        parts: List[str] = []
        for i in ids:
            if skip_special_tokens and i in special:
                continue
            tok = self.ids_to_tokens.get(int(i), self.unk_token)
            if tok.startswith("##") and parts:
                parts[-1] = parts[-1] + tok[2:]
            else:
                parts.append(tok)
        return " ".join(parts)

    def batch_decode(
        self, batch: Sequence[Sequence[int]], skip_special_tokens: bool = False
    ) -> List[str]:
        return [self.decode(ids, skip_special_tokens) for ids in batch]


# the reference's deterministic 17-token test vocab
# (reference tests/test_prompting.py:57-83)
TINY_BERT_VOCAB = (
    "[PAD] [UNK] [CLS] [SEP] hello world this is a test hi there many "
    "##i with the of"
).split()


def tiny_bert_tokenizer(model_max_length: int = 32) -> WordPieceTokenizer:
    return WordPieceTokenizer(
        TINY_BERT_VOCAB, model_max_length=model_max_length
    )
