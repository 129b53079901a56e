"""SQuAD-style QA recipes (reference: src/smashed/contrib/squad.py
198-489): evidence-aware encoding, striding, and prompting.

Divergence note (documented deliberately): the reference's
``EncoderWithEvidenceLocationMapper.transform`` remaps char spans to
*token-boundary char offsets* and then builds a mask by indexing token
positions with those char values (contrib/squad.py:240-262 + the
chained RangeToMask).  This rebuild remaps char spans to **token-index
spans** — the evident intent (a mask over context token positions) —
and pins the behavior with tests.
"""

from __future__ import annotations

from bisect import bisect_left, bisect_right
from typing import Iterable, List, Optional, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from ..core.mapper import SparkMapper
from ..core.ship import ensure_shipped
from ..operators.hf_tokenize import _tokenizer_fingerprint
from ..operators.masks import RangeToMaskMapper
from ..operators.prompting import FillEncodedPromptMapper
from ..operators.shape import SingleSequenceStriderMapper, UnpackingMapper
from ..recipes.contrib import AddEvidencesLocationMapper, UniqueAnswerMapper
from ..recipes.prompting import BaseRecipe, PromptingRecipe


class EncoderWithEvidenceLocationMapper(SparkMapper):
    """Encode the context field and remap char-based ``[start, end)``
    evidence spans to token-index spans via offset bisect
    (reference contrib/squad.py:198-262)."""

    def __init__(
        self,
        tokenizer,
        context_field: str = "context",
        location_field: str = "locations",
        fields_to_encode: Optional[Sequence[str]] = None,
    ) -> None:
        self.tokenizer = tokenizer
        self._tokenizer_fp = _tokenizer_fingerprint(tokenizer)
        self.context_field = context_field
        self.location_field = location_field
        self.extra_fields = list(fields_to_encode or [])
        super().__init__(
            input_fields=[context_field, location_field, *self.extra_fields],
            output_fields=[context_field, location_field],
        )

    def config(self):
        return {
            "context": self.context_field,
            "locations": self.location_field,
            "extra": self.extra_fields,
            "tokenizer": self._tokenizer_fp,
        }

    def apply(self, df: DataFrame) -> DataFrame:
        ensure_shipped(df.sparkSession)
        tokenizer = self.tokenizer
        ctx_field = self.context_field
        loc_field = self.location_field
        extra = self.extra_fields

        from pyspark.sql.types import StringType

        # extra fields holding a LIST of strings (e.g. all answers at
        # validation time) encode element-wise to a list of id lists
        nested_extra = {
            f.name
            for f in df.schema.fields
            if f.name in extra
            and isinstance(f.dataType, ArrayType)
            and isinstance(f.dataType.elementType, StringType)
        }
        fields = []
        for f in df.schema.fields:
            if f.name == ctx_field or (
                f.name in extra and f.name not in nested_extra
            ):
                fields.append(StructField(f.name, ArrayType(LongType())))
            elif f.name == loc_field or f.name in nested_extra:
                fields.append(
                    StructField(f.name, ArrayType(ArrayType(LongType())))
                )
            else:
                fields.append(f)
        schema = StructType(fields)
        out_cols = [f.name for f in schema.fields]

        def run(batches: Iterable[pd.DataFrame]) -> Iterable[pd.DataFrame]:
            for pdf in batches:
                data = {c: pdf[c].tolist() for c in pdf.columns}
                enc = tokenizer(
                    data[ctx_field],
                    add_special_tokens=False,
                    return_attention_mask=False,
                    return_offsets_mapping=True,
                )
                data[ctx_field] = list(enc["input_ids"])
                new_locs: List[List[List[int]]] = []
                for offsets, spans in zip(
                    enc["offset_mapping"], data[loc_field]
                ):
                    starts = [o[0] for o in offsets]
                    ends = [o[1] for o in offsets]
                    row_locs = []
                    for start, end in spans:
                        if start >= 0 and offsets:
                            tok_start = max(
                                bisect_right(starts, start) - 1, 0
                            )
                        else:
                            tok_start = -1
                        if end > 0 and offsets:
                            tok_end = bisect_left(ends, end)
                            tok_end = min(tok_end, len(ends) - 1) + 1
                        else:
                            tok_end = -1
                        row_locs.append([tok_start, tok_end])
                    new_locs.append(row_locs)
                data[loc_field] = new_locs
                for fld in extra:
                    if fld in nested_extra:
                        data[fld] = [
                            list(
                                tokenizer(
                                    list(vals),
                                    add_special_tokens=False,
                                    return_attention_mask=False,
                                )["input_ids"]
                            )
                            if len(vals)
                            else []
                            for vals in data[fld]
                        ]
                    else:
                        enc2 = tokenizer(
                            data[fld],
                            add_special_tokens=False,
                            return_attention_mask=False,
                        )
                        data[fld] = list(enc2["input_ids"])
                yield pd.DataFrame({c: data[c] for c in out_cols})

        return df.mapInPandas(run, schema=schema)


class StriderWithEvidenceLocationMapper(SingleSequenceStriderMapper):
    """Strider that always co-strides the context and the location mask
    (reference contrib/squad.py:265-287)."""

    def __init__(
        self,
        max_length: int,
        context_field: str = "context",
        location_field: str = "locations",
        field_to_stride=None,
        stride: Optional[int] = None,
        **kwargs,
    ) -> None:
        extra = (
            [field_to_stride]
            if isinstance(field_to_stride, str)
            else list(field_to_stride or [])
        )
        fields = sorted({context_field, location_field, *extra})
        super().__init__(
            field_to_stride=fields, max_length=max_length, stride=stride, **kwargs
        )


class ReplaceIfNoEvidencePromptTemplateMapper(FillEncodedPromptMapper):
    """If the (strided) location mask contains no evidence, replace the
    target ids with a freshly rendered encoded prompt (reference
    contrib/squad.py:286-315)."""

    def __init__(
        self,
        template: str,
        tokenizer=None,
        location_field: str = "locations",
        target_field: str = "labels",
        **kwargs,
    ) -> None:
        kwargs.setdefault("add_bos_token", False)
        kwargs.setdefault("add_eos_token", False)
        kwargs.setdefault("return_attention_mask", False)
        super().__init__(template=template, tokenizer=tokenizer, **kwargs)
        self.location_field = location_field
        self.target_field = target_field
        # unlike the parent, this mapper writes only the target field
        self.input_fields = (location_field, *self.input_fields)
        self.output_fields = (target_field,)

    def apply(self, df: DataFrame) -> DataFrame:
        parts = [self._lit_ids(self.bos_token_ids)]
        for ids, field in self.segments:
            if ids:
                parts.append(self._lit_ids(ids))
            if field:
                parts.append(F.col(field).cast("array<bigint>"))
        parts.append(self._lit_ids(self.eos_token_ids))
        rendered = F.concat(*parts)

        locs = F.col(self.location_field)
        has_evidence = (
            F.aggregate(
                locs, F.lit(0).cast("bigint"), lambda acc, v: acc + v
            )
            > 0
        )
        dtype = df.schema[self.target_field].dataType
        from pyspark.sql.types import ArrayType as _AT

        if isinstance(dtype, _AT) and isinstance(dtype.elementType, _AT):
            # multiple answers (validation time): wrap the rendered
            # replacement as a single-element answer list
            # (reference contrib/squad.py:306-312)
            out = F.when(
                has_evidence,
                F.col(self.target_field).cast("array<array<bigint>>"),
            ).otherwise(F.array(rendered))
        else:
            out = F.when(
                has_evidence, F.col(self.target_field).cast("array<bigint>")
            ).otherwise(rendered)
        return df.withColumn(self.target_field, out)


class SquadPromptTrainRecipe(BaseRecipe):
    """Context concat -> unpack answers -> evidence char spans ->
    evidence-aware encode -> mask -> stride -> prompt fill -> prune
    (reference contrib/squad.py:367-447)."""

    def __init__(
        self,
        tokenizer,
        source_template: str,
        context_length: int,
        context_stride: int,
        target_template: Optional[str] = None,
        context_field: str = "context",
        answers_field: str = "answers",
        evidences_field: str = "evidences",
        location_field: str = "locations",
        keep_fields: Optional[Sequence[str]] = None,
    ) -> None:
        super().__init__()
        from ..recipes.contrib import ConcatenateContextMapper

        self.chain(ConcatenateContextMapper(context_field_name=context_field))
        self.chain(UniqueAnswerMapper(answer_field=answers_field))
        self.chain(
            UnpackingMapper(
                fields_to_unpack=[answers_field], ignored_behavior="repeat"
            )
        )
        self.chain(
            AddEvidencesLocationMapper(
                context_field=context_field,
                evidence_field=evidences_field,
                location_field=location_field,
            )
        )
        self.chain(
            EncoderWithEvidenceLocationMapper(
                tokenizer=tokenizer,
                context_field=context_field,
                location_field=location_field,
                fields_to_encode=[answers_field],
            )
        )
        from ..operators.fields import RenameFieldsMapper

        self.chain(RenameFieldsMapper({answers_field: "labels"}))
        self.chain(
            RangeToMaskMapper(
                mask_field_name=location_field,
                reference_field_name=context_field,
                locations_field_name=location_field,
            )
        )
        self.chain(
            StriderWithEvidenceLocationMapper(
                max_length=context_length,
                stride=context_stride,
                context_field=context_field,
                location_field=location_field,
            )
        )
        source_prompt = FillEncodedPromptMapper(
            template=source_template,
            tokenizer=tokenizer,
            add_bos_token=False,
            add_eos_token=False,
            return_attention_mask=True,
        )
        self.chain(source_prompt)
        if target_template is not None:
            self.chain(
                ReplaceIfNoEvidencePromptTemplateMapper(
                    template=target_template,
                    tokenizer=tokenizer,
                    location_field=location_field,
                    target_field="labels",
                )
            )
        from ..operators.fields import ChangeFieldsMapper

        keep = list(
            keep_fields
            or ["input_ids", "attention_mask"]
            + (["labels"] if target_template is not None else [])
        )
        self.chain(ChangeFieldsMapper(keep_fields=keep, raise_on_missing=False))


class SquadPromptValidRecipe(SquadPromptTrainRecipe):
    """Validation-time variant (reference contrib/squad.py:450-489):
    keeps ALL answers per question (no unpacking into one row per
    answer) so evaluation can match any gold answer."""

    def __init__(self, *args, **kwargs) -> None:
        super().__init__(*args, **kwargs)
        # drop the UnpackingMapper stage: answers stay a list per row,
        # and the encoder's extra-field tokenization then yields a list
        # of encodings
        self.mappers = [
            m for m in self.mappers if not isinstance(m, UnpackingMapper)
        ]
        # answers arrive as array<string>: encode each answer separately
        # by exploding only for encoding is unnecessary — the tokenizer
        # mapInPandas handles list-of-strings per row via batch_encode
