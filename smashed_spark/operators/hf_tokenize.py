"""Tokenizer-backed mappers (reference: src/smashed/mappers/tokenize.py
TokenizerMapper, prompting.py EncodeFieldsMapper, decoding.py
DecodingMapper).

Python-tier: the tokenizer runs inside ``mapInPandas`` over Arrow
batches — one batched tokenizer call per Arrow batch (HF fast
tokenizers batch in Rust; the per-row reference path pays Python per
sample).  The tokenizer object ships to executors via closure pickling;
any object with the standard HF surface works, including the built-in
deterministic :class:`~smashed_spark.functions.wordpiece.WordPieceTokenizer`.
"""

from __future__ import annotations

import hashlib
from typing import Any, Dict, Iterable, List, Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..core.mapper import SparkMapper
from ..core.ship import ensure_shipped

_FIELD_TYPES: Dict[str, Any] = {
    "input_ids": ArrayType(LongType()),
    "attention_mask": ArrayType(LongType()),
    "token_type_ids": ArrayType(LongType()),
    "special_tokens_mask": ArrayType(LongType()),
    "offset_mapping": ArrayType(ArrayType(LongType())),
    "length": LongType(),
    "overflow_to_sample_mapping": ArrayType(LongType()),
    "word_ids": ArrayType(LongType()),
    "words": ArrayType(StringType()),
}


def _field_type(raw_field: str, overflowing: bool):
    """Under ``return_overflowing_tokens`` every per-sequence field
    nests one level: each row carries a LIST of chunk encodings (the
    reference calls the tokenizer per sample, tokenize.py:196-200, so
    its rows hold the chunk list; we regroup the batched call to the
    same shape).  ``overflow_to_sample_mapping`` is already per-row."""
    t = _FIELD_TYPES[raw_field]
    if overflowing and raw_field != "overflow_to_sample_mapping":
        return ArrayType(t)
    return t


def _tokenizer_fingerprint(tokenizer) -> str:
    """sha1 of the tokenizer's cloudpickle bytes — the serialization
    that ships it to executors, so any state change (one vocab entry)
    changes the mapper fingerprints and with them the segment-cache
    key.  A pickle that is not byte-stable can only cause a cache miss,
    never a wrong hit."""
    from pyspark import cloudpickle

    return hashlib.sha1(cloudpickle.dumps(tokenizer)).hexdigest()


def output_fields_from_tokenizer_kwargs(kwargs: Optional[dict]) -> List[str]:
    """Reference tokenize.py:47-68."""
    kwargs = kwargs or {}
    fields = ["input_ids"]
    if kwargs.get("return_attention_mask", False):
        fields.append("attention_mask")
    if kwargs.get("return_token_type_ids", False):
        fields.append("token_type_ids")
    if kwargs.get("return_overflowing_tokens", False):
        fields.append("overflow_to_sample_mapping")
    if kwargs.get("return_special_tokens_mask", False):
        fields.append("special_tokens_mask")
    if kwargs.get("return_offsets_mapping", False):
        fields.append("offset_mapping")
    if kwargs.get("return_length", False):
        fields.append("length")
    return fields


class _FnameMixin:
    _output_prefix: Optional[str]
    _output_rename_map: Optional[Dict[str, str]]

    def _init_fname(self, output_prefix, output_rename_map) -> None:
        assert output_prefix is None or output_rename_map is None, (
            "You cannot specify both output_prefix and output_rename_map."
        )
        self._output_prefix = output_prefix
        self._output_rename_map = output_rename_map

    def fname(self, field: str) -> str:
        if self._output_prefix:
            return f"{self._output_prefix}_{field}"
        if self._output_rename_map:
            if field in self._output_rename_map:
                return self._output_rename_map[field]
            raise ValueError(f"Field '{field}' is not in the rename map.")
        return field


class TokenizerMapper(SparkMapper, _FnameMixin):
    """Run a tokenizer on a text field (reference tokenize.py:84-229)."""

    def __init__(
        self,
        tokenizer,
        input_field: str,
        output_prefix: Optional[str] = None,
        output_rename_map: Optional[Dict[str, str]] = None,
        add_special_tokens: bool = True,
        max_length: Optional[int] = None,
        truncation: bool = False,
        is_split_into_words: bool = False,
        return_token_type_ids: bool = False,
        return_attention_mask: bool = True,
        return_overflowing_tokens: bool = False,
        return_special_tokens_mask: bool = False,
        return_offsets_mapping: bool = False,
        return_length: bool = False,
        return_word_ids: bool = False,
        return_words: bool = False,
        **tokenizer_kwargs: Any,
    ) -> None:
        self._init_fname(output_prefix, output_rename_map)
        self.to_tokenize_field = input_field
        self.tokenizer = tokenizer
        self._tokenizer_fp = _tokenizer_fingerprint(tokenizer)
        self.tokenize_kwargs = {
            "add_special_tokens": add_special_tokens,
            "max_length": max_length,
            "truncation": truncation,
            "is_split_into_words": is_split_into_words,
            "return_attention_mask": return_attention_mask,
            "return_token_type_ids": return_token_type_ids,
            "return_overflowing_tokens": return_overflowing_tokens,
            "return_special_tokens_mask": return_special_tokens_mask,
            "return_offsets_mapping": return_offsets_mapping,
            "return_length": return_length,
            **(tokenizer_kwargs or {}),
        }
        self._raw_fields = output_fields_from_tokenizer_kwargs(
            self.tokenize_kwargs
        )
        # word_ids/words are computed from the encodings, not returned
        # by the tokenizer call (reference tokenize.py:176-195, 201-229)
        self.return_word_ids = bool(return_word_ids)
        self.return_words = bool(return_words and return_word_ids)
        if self.return_words and not is_split_into_words:
            # words are recovered by indexing the input sample with each
            # word id — on a raw string that silently yields single
            # characters, so require the documented word-list contract
            raise ValueError(
                "return_words=True requires is_split_into_words=True: "
                "word ids index the input word list, not a raw string"
            )
        if self.return_word_ids:
            self._raw_fields.append("word_ids")
        if self.return_words:
            self._raw_fields.append("words")
        super().__init__(
            input_fields=[input_field],
            output_fields=[self.fname(f) for f in self._raw_fields],
        )

    def config(self):
        return {
            "field": self.to_tokenize_field,
            "kwargs": {
                k: v
                for k, v in self.tokenize_kwargs.items()
                if isinstance(v, (str, int, float, bool)) or v is None
            },
            "tokenizer": self._tokenizer_fp,
            "prefix": self._output_prefix,
            "rename": self._output_rename_map,
        }

    def apply(self, df: DataFrame) -> DataFrame:
        ensure_shipped(df.sparkSession)
        tokenizer = self.tokenizer
        kwargs = self.tokenize_kwargs
        raw_fields = self._raw_fields
        fname = self.fname
        in_field = self.to_tokenize_field

        overflowing = bool(kwargs.get("return_overflowing_tokens", False))

        out_fields = [
            f
            for f in df.schema.fields
            if f.name not in {fname(r) for r in raw_fields}
        ]
        schema = StructType(
            out_fields
            + [
                StructField(fname(r), _field_type(r, overflowing))
                for r in raw_fields
            ]
        )
        out_cols = [f.name for f in schema.fields]
        passthrough = [f.name for f in out_fields]

        def word_ids_of(enc, j: int):
            # HF BatchEncoding exposes .word_ids(j) (fast tokenizers);
            # the built-in WordPiece tokenizer returns a plain dict key
            try:
                return enc.word_ids(j)
            except (AttributeError, TypeError):
                return enc["word_ids"][j]

        def words_of(enc, j: int, sample):
            # reference tokenize.py:186-195: index the tokenized field
            # by word id (a word list under is_split_into_words)
            return [
                None if wid is None else sample[wid]
                for wid in word_ids_of(enc, j)
            ]

        def run(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
            for pdf in batches:
                texts = pdf[in_field].tolist()
                enc = tokenizer(texts, **kwargs)
                data = {c: pdf[c].tolist() for c in passthrough}
                n = len(texts)
                if overflowing:
                    # the flattened chunk encodings regroup per input
                    # row: chunk j belongs to row mapping[j]
                    mapping = list(enc["overflow_to_sample_mapping"])
                    groups: List[List[int]] = [[] for _ in range(n)]
                    for j, src in enumerate(mapping):
                        groups[int(src)].append(j)
                    for r in raw_fields:
                        if r == "overflow_to_sample_mapping":
                            # per-sample view (as the reference's
                            # one-row-at-a-time calls produce): chunk
                            # k of a row maps to sample 0
                            data[fname(r)] = [[0] * len(g) for g in groups]
                        elif r == "word_ids":
                            data[fname(r)] = [
                                [word_ids_of(enc, j) for j in g]
                                for g in groups
                            ]
                        elif r == "words":
                            data[fname(r)] = [
                                [words_of(enc, j, texts[i]) for j in g]
                                for i, g in enumerate(groups)
                            ]
                        else:
                            vals = enc[r]
                            data[fname(r)] = [
                                [vals[j] for j in g] for g in groups
                            ]
                else:
                    for r in raw_fields:
                        if r == "word_ids":
                            data[fname(r)] = [
                                word_ids_of(enc, j) for j in range(n)
                            ]
                        elif r == "words":
                            data[fname(r)] = [
                                words_of(enc, j, texts[j]) for j in range(n)
                            ]
                        else:
                            vals = (
                                enc[r] if r in enc.keys() else [None] * n
                            )
                            data[fname(r)] = list(vals)
                yield pd.DataFrame({c: data[c] for c in out_cols})

        return df.mapInPandas(run, schema=schema)


class EncodeFieldsMapper(SparkMapper):
    """Tokenize N fields *without* special tokens, optionally emitting
    char-offset fields ``<offset_prefix>_<field>``
    (reference prompting.py:36-148)."""

    def __init__(
        self,
        fields_to_encode: List[str],
        tokenizer,
        is_split_into_words: bool = False,
        fields_to_return_offset_mapping: bool = False,
        offset_prefix: str = "offset",
    ) -> None:
        self.fields_to_encode = list(fields_to_encode)
        self.tokenizer = tokenizer
        self._tokenizer_fp = _tokenizer_fingerprint(tokenizer)
        self.is_split_into_words = is_split_into_words
        self.return_offsets = fields_to_return_offset_mapping
        self.offset_prefix = offset_prefix
        out = list(self.fields_to_encode)
        if self.return_offsets:
            out += [f"{offset_prefix}_{f}" for f in self.fields_to_encode]
        super().__init__(
            input_fields=self.fields_to_encode, output_fields=out
        )

    def config(self):
        return {
            "fields": self.fields_to_encode,
            "split": self.is_split_into_words,
            "offsets": self.return_offsets,
            "offset_prefix": self.offset_prefix,
            "tokenizer": self._tokenizer_fp,
        }

    def apply(self, df: DataFrame) -> DataFrame:
        ensure_shipped(df.sparkSession)
        tokenizer = self.tokenizer
        encode_fields = self.fields_to_encode
        return_offsets = self.return_offsets
        offset_prefix = self.offset_prefix
        is_split = self.is_split_into_words

        fields = []
        for f in df.schema.fields:
            if f.name in encode_fields:
                fields.append(StructField(f.name, ArrayType(LongType())))
            else:
                fields.append(f)
        if return_offsets:
            fields += [
                StructField(
                    f"{offset_prefix}_{f}", ArrayType(ArrayType(LongType()))
                )
                for f in encode_fields
            ]
        schema = StructType(fields)
        out_cols = [f.name for f in schema.fields]

        def run(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
            for pdf in batches:
                data = {
                    c: pdf[c].tolist() for c in pdf.columns
                }
                for fld in encode_fields:
                    enc = tokenizer(
                        data[fld],
                        add_special_tokens=False,
                        is_split_into_words=is_split,
                        return_attention_mask=False,
                        return_offsets_mapping=return_offsets,
                    )
                    data[fld] = list(enc["input_ids"])
                    if return_offsets:
                        data[f"{offset_prefix}_{fld}"] = list(
                            enc["offset_mapping"]
                        )
                yield pd.DataFrame({c: data[c] for c in out_cols})

        return df.mapInPandas(run, schema=schema)


class DecodingMapper(SparkMapper):
    """ids -> text via ``tokenizer.decode``/``batch_decode``
    (reference decoding.py:23-79)."""

    def __init__(
        self,
        tokenizer,
        fields: List[str],
        decode_batch: bool = False,
        skip_special_tokens: bool = False,
        **decode_kwargs: Any,
    ) -> None:
        self.tokenizer = tokenizer
        self._tokenizer_fp = _tokenizer_fingerprint(tokenizer)
        self.fields = list(fields)
        self.decode_batch = decode_batch
        self.skip_special_tokens = skip_special_tokens
        self.decode_kwargs = dict(decode_kwargs)
        super().__init__(input_fields=self.fields, output_fields=self.fields)

    def config(self):
        return {
            "fields": self.fields,
            "batch": self.decode_batch,
            "skip_special": self.skip_special_tokens,
            "tokenizer": self._tokenizer_fp,
        }

    def apply(self, df: DataFrame) -> DataFrame:
        ensure_shipped(df.sparkSession)
        tokenizer = self.tokenizer
        decode_fields = self.fields
        decode_batch = self.decode_batch
        skip = self.skip_special_tokens
        extra = self.decode_kwargs

        fields = []
        for f in df.schema.fields:
            if f.name in decode_fields:
                new_type = (
                    ArrayType(StringType()) if decode_batch else StringType()
                )
                fields.append(StructField(f.name, new_type))
            else:
                fields.append(f)
        schema = StructType(fields)
        out_cols = [f.name for f in schema.fields]

        def run(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
            for pdf in batches:
                data = {c: pdf[c].tolist() for c in pdf.columns}
                for fld in decode_fields:
                    if decode_batch:
                        # each row holds a LIST of sequences
                        data[fld] = [
                            tokenizer.batch_decode(
                                v, skip_special_tokens=skip, **extra
                            )
                            for v in data[fld]
                        ]
                    else:
                        data[fld] = [
                            tokenizer.decode(
                                v, skip_special_tokens=skip, **extra
                            )
                            for v in data[fld]
                        ]
                yield pd.DataFrame({c: data[c] for c in out_cols})

        return df.mapInPandas(run, schema=schema)
