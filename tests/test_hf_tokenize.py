"""Tokenizer mappers — goldens ported from reference
tests/test_prompting.py:85-200 (deterministic 17-token BERT vocab)."""

from smashed_spark.functions.wordpiece import (
    WordPieceTokenizer,
    tiny_bert_tokenizer,
)
from smashed_spark.operators.hf_tokenize import (
    DecodingMapper,
    EncodeFieldsMapper,
    TokenizerMapper,
)
from smashed_spark.operators.prompting import (
    FillEncodedPromptMapper,
    TruncateMultipleFieldsMapper,
)

ROW = {
    "a": "many " * 30 + " hello world",
    "b": "hi" + "i" * 10 + " there",
    "c": "this is a test",
}


def _df(spark, row=None):
    row = row or ROW
    return spark.createDataFrame(
        [(row["a"], row["b"], row["c"])], "a: string, b: string, c: string"
    )


def test_encode_offsets(spark):
    df = spark.createDataFrame(
        [("many  hello world",)], "a: string"
    )
    out = (
        EncodeFieldsMapper(
            ["a"], tiny_bert_tokenizer(), fields_to_return_offset_mapping=True
        )
        .map(df)
        .collect()[0]
    )
    assert out.offset_a == [[0, 4], [6, 11], [12, 17]]
    assert out.a == [12, 4, 5]  # many hello world


def test_encode_truncate_chain(spark):
    tok = tiny_bert_tokenizer()
    pipe = EncodeFieldsMapper(["a", "b", "c"], tok) >> TruncateMultipleFieldsMapper(
        fields_to_truncate=["a", "b"],
        fields_to_preserve=["c"],
        max_length=16,
        strategy="longest",
    )
    out = pipe.map(_df(spark)).collect()[0]
    assert out.a == [12, 12, 12, 12, 12, 12]
    assert out.b == [10, 13, 13, 13, 13, 13]
    assert out.c == [6, 7, 8, 9]


def test_encode_truncate_uniform_chain(spark):
    tok = tiny_bert_tokenizer()
    pipe = EncodeFieldsMapper(["a", "b", "c"], tok) >> TruncateMultipleFieldsMapper(
        fields_to_truncate=["a", "b"],
        fields_to_preserve=["c"],
        max_length=16,
        strategy="uniform",
    )
    out = pipe.map(_df(spark)).collect()[0]
    assert out.a == [12] * 8
    assert out.b == [10, 13, 13]
    assert out.c == [6, 7, 8, 9]


def test_full_fill_chain(spark):
    # reference test_prompting.py test_fill golden
    tok = tiny_bert_tokenizer()
    pipe = (
        EncodeFieldsMapper(["a", "b", "c"], tok)
        >> TruncateMultipleFieldsMapper(
            fields_to_truncate=["a", "b"],
            fields_to_preserve=["c"],
            max_length=16,
            strategy="uniform",
        )
        >> FillEncodedPromptMapper(
            template="{a} is a {b} with the help of {c}.", tokenizer=tok
        )
    )
    out = pipe.map(_df(spark)).collect()[0]
    assert out.input_ids == (
        [12] * 8 + [7, 8] + [10, 13, 13] + [14, 15, 1, 16] + [6, 7, 8, 9] + [1]
    )
    assert out.attention_mask == [1] * 22


def test_tokenizer_mapper(spark):
    df = spark.createDataFrame([("hello world",)], "text: string")
    out = (
        TokenizerMapper(
            tiny_bert_tokenizer(),
            input_field="text",
            return_attention_mask=True,
            return_length=True,
        )
        .map(df)
        .collect()[0]
    )
    # [CLS] hello world [SEP]
    assert out.input_ids == [2, 4, 5, 3]
    assert out.attention_mask == [1, 1, 1, 1]
    assert out.length == 4


def test_tokenizer_mapper_prefix_and_truncation(spark):
    df = spark.createDataFrame([("hello world this is a test",)], "text: string")
    out = (
        TokenizerMapper(
            tiny_bert_tokenizer(),
            input_field="text",
            output_prefix="tok",
            max_length=5,
            truncation=True,
        )
        .map(df)
        .collect()[0]
    )
    assert out.tok_input_ids == [2, 4, 5, 6, 3]  # CLS hello world this SEP
    assert "text" in out.asDict()  # merge semantics keep the input


def test_decoding_roundtrip(spark):
    tok = tiny_bert_tokenizer()
    df = spark.createDataFrame([([4, 5, 10, 13],)], "ids: array<bigint>")
    out = DecodingMapper(tok, ["ids"]).map(df).collect()[0]
    assert out.ids == "hello world hii"


def test_decoding_batch(spark):
    tok = tiny_bert_tokenizer()
    df = spark.createDataFrame(
        [([[4, 5], [2, 6, 3]],)], "ids: array<array<bigint>>"
    )
    out = (
        DecodingMapper(tok, ["ids"], decode_batch=True, skip_special_tokens=True)
        .map(df)
        .collect()[0]
    )
    assert out.ids == ["hello world", "this"]


def test_tokenizer_remove_columns_reference_pattern(spark):
    # reference tests/test_drop_fields.py: remove_columns keeps only
    # tokenizer outputs; default merges over the input row
    tok = tiny_bert_tokenizer()
    df = spark.createDataFrame(
        [("hello world", 1), ("this test", 0)], "text: string, label: bigint"
    )
    mapper = TokenizerMapper(tok, input_field="text", return_attention_mask=False)
    only = mapper.map(df, remove_columns=True)
    assert only.columns == ["input_ids"]
    merged = mapper.map(df)
    assert set(merged.columns) == {"text", "label", "input_ids"}


def test_tokenizer_overflowing_chunks(spark):
    """return_overflowing_tokens regroups the flattened chunk encodings
    per input row (reference tokenize.py per-sample semantics: each row
    holds its list of chunks)."""
    tok = tiny_bert_tokenizer()
    df = spark.createDataFrame(
        [
            (0, "hello world this is a test hi there"),  # 8 pieces
            (1, "many hello"),                           # 2 pieces
        ],
        "i: bigint, t: string",
    )
    out = (
        TokenizerMapper(
            tok,
            input_field="t",
            max_length=6,  # body = 4 after [CLS]/[SEP]
            truncation=True,
            return_overflowing_tokens=True,
            return_attention_mask=True,
        )
        .map(df)
        .orderBy("i")
        .collect()
    )
    cls, sep = 2, 3
    # row 0: 8 pieces -> two chunks of 4
    assert out[0].input_ids == [
        [cls, 4, 5, 6, 7, sep],
        [cls, 8, 9, 10, 11, sep],
    ]
    assert out[0].overflow_to_sample_mapping == [0, 0]
    assert out[0].attention_mask == [[1] * 6, [1] * 6]
    # row 1: fits in one chunk
    assert out[1].input_ids == [[cls, 12, 4, sep]]
    assert out[1].overflow_to_sample_mapping == [0]


def test_tokenizer_overflow_stride_stops_at_covering_window():
    """With stride > 0 window generation must stop at the first window
    whose end reaches the sequence end (HF fast-tokenizer semantics):
    8 pieces, body 6, stride 4 -> exactly 2 chunks [0:6] and [2:8],
    not the trailing subset windows a plain range() would add."""
    tok = tiny_bert_tokenizer()
    text = "hello world this is a test hi there"  # 8 pieces
    enc = tok(
        text,
        max_length=8,  # body = 6 after [CLS]/[SEP]
        return_overflowing_tokens=True,
        return_attention_mask=False,
        add_special_tokens=True,
        stride=4,
    )
    assert len(enc["input_ids"]) == 2
    cls, sep = tok.cls_token_id, tok.sep_token_id
    assert enc["input_ids"][0] == [cls, 4, 5, 6, 7, 8, 9, sep]
    assert enc["input_ids"][1] == [cls, 6, 7, 8, 9, 10, 11, sep]
    assert enc["overflow_to_sample_mapping"] == [0, 0]

    # stride 0 keeps the old contiguous-window behavior
    enc0 = tok(
        text,
        max_length=6,
        return_overflowing_tokens=True,
        return_attention_mask=False,
        add_special_tokens=True,
    )
    assert [len(c) for c in enc0["input_ids"]] == [6, 6]


def test_tokenizer_word_ids_and_words(spark):
    tok = tiny_bert_tokenizer()
    df = spark.createDataFrame(
        [(["many", "hello", "world"],)], "w: array<string>"
    )
    out = (
        TokenizerMapper(
            tok,
            input_field="w",
            is_split_into_words=True,
            return_word_ids=True,
            return_words=True,
            return_attention_mask=False,
        )
        .map(df)
        .collect()[0]
    )
    assert out.word_ids == [None, 0, 1, 2, None]  # specials -> None
    assert out.words == [None, "many", "hello", "world", None]


def test_tokenizer_word_ids_multi_piece_word(spark):
    tok = tiny_bert_tokenizer()
    # "hii" -> pieces "hi" + "##i": both map to word 0
    df = spark.createDataFrame([(["hii", "there"],)], "w: array<string>")
    out = (
        TokenizerMapper(
            tok,
            input_field="w",
            is_split_into_words=True,
            return_word_ids=True,
            return_attention_mask=False,
        )
        .map(df)
        .collect()[0]
    )
    assert out.word_ids == [None, 0, 0, 1, None]


def test_tokenizer_fingerprint_tracks_vocab():
    """Mapper fingerprints (the segment-cache key) hash the tokenizer's
    state, not its class name: one changed vocab entry changes them,
    an equal tokenizer — memo warmed or not — keeps them."""
    vocab = ["[PAD]", "[UNK]", "[CLS]", "[SEP]", "hello", "world"]
    changed = vocab[:-1] + ["there"]
    makers = [
        lambda t: TokenizerMapper(t, "a"),
        lambda t: EncodeFieldsMapper(["a"], t),
        lambda t: DecodingMapper(t, ["a"]),
    ]
    warmed = WordPieceTokenizer(vocab)
    warmed("hello world")
    for make in makers:
        fp = make(WordPieceTokenizer(vocab)).fingerprint
        assert make(WordPieceTokenizer(changed)).fingerprint != fp
        assert make(warmed).fingerprint == fp
