"""Byte-level BPE tokenizer (core/bpe.py): frozen-vocab determinism,
no-OOV byte coverage, merge compression, and Spark pandas-UDF parity."""

from pii_filter_spark.core.bpe import MAX_MERGES, frozen_bpe


def bpe_token_count(text):
    return frozen_bpe().count(text)


def test_merge_table_is_frozen_and_deterministic():
    r1 = frozen_bpe().ranks
    assert 0 < len(r1) <= MAX_MERGES
    # retraining from the seed reproduces the identical table
    from pii_filter_spark.core.bpe import _train_merges

    r2 = {p: i for i, p in enumerate(_train_merges())}
    assert r1 == r2


def test_no_oov_any_unicode_encodes():
    for s in ["καλημέρα", "快速管道", "emoji \U0001f600 ok", "a\x00b", "ñé"]:
        n = bpe_token_count(s)
        assert n >= 1
        # never more tokens than UTF-8 bytes (byte-level base vocab)
        assert n <= len(s.encode("utf-8")) + s.count(" ")


def test_common_words_compress_below_bytes():
    # seed-frequent analytics words must merge well below their byte count
    s = "the table scan filter query value stream window"
    assert bpe_token_count(s) < len(s.encode("utf-8")) / 2


def test_empty_and_null_handling():
    assert bpe_token_count("") == 0
    assert frozen_bpe().counts_batch(["a b", None, ""]) == [
        bpe_token_count("a b"),
        0,
        0,
    ]


def test_count_is_additive_over_pretokens():
    # pre-tokens are independent: count(a+b) with a space boundary equals
    # count(a) + count(" b") — the packing prefix sum relies on per-doc
    # counts being stable regardless of batch composition
    a, b = "scan filter", "window group"
    assert bpe_token_count(a + " " + b) == bpe_token_count(
        a
    ) + bpe_token_count(" " + b)


def test_spark_udf_matches_pure_function(spark):
    rows = [
        (1, "the quick data pipeline reads every table"),
        (2, "快速的数据管道"),
        (3, None),
        (4, "  "),
        (5, "xyzzy 12345 !!!"),
    ]
    from pii_filter_spark.operators.textstats import bpe_exact_counts

    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.n_bpe_tokens for r in bpe_exact_counts(df).collect()}
    want = {d: bpe_token_count(t or "") for d, t in rows}
    assert got == want


def test_bytes_to_unicode_is_a_bijection_with_published_ranges():
    from pii_filter_spark.core.bpe import bytes_to_unicode

    b2u = bytes_to_unicode()
    assert len(b2u) == 256
    assert len(set(b2u.values())) == 256
    # the three published self-mapped printable ranges
    for b in list(range(33, 127)) + list(range(161, 173)) + list(range(174, 256)):
        assert b2u[b] == chr(b)
    # everything else shifts past 255 (e.g. space -> 'Ġ' = chr(288))
    assert b2u[ord(" ")] == "Ġ"
    assert all(ord(b2u[b]) > 255 for b in range(256) if b not in
               set(range(33, 127)) | set(range(161, 173)) | set(range(174, 256)))


def test_merges_txt_roundtrip_counts_identical():
    """The public-vocab seam: serialize the frozen table to the released
    merges.txt wire format, re-parse it with the loader a real GPT-2
    merges.txt drops into, and counts must match the native path
    bit-for-bit on every script."""
    from pii_filter_spark.core.bpe import ByteBPE, frozen_merges_txt

    bpe = ByteBPE.from_merges_txt(frozen_merges_txt())
    for s in ["the quick data pipeline reads every table",
              "καλημέρα 快速管道", "df.groupBy('key').agg()",
              "", "  leading space", "emoji \U0001f600"]:
        assert bpe.count(s) == bpe_token_count(s), s


def test_parse_merges_txt_published_format():
    """The parser accepts the exact released layout: version header,
    GPT-2 byte-alphabet spellings ('Ġ' = leading space), rank order."""
    from pii_filter_spark.core.bpe import ByteBPE, parse_merges_txt

    txt = "#version: 0.2\nh e\nl l\nhe ll\nĠ w\n"
    merges = parse_merges_txt(txt)
    assert merges == [(b"h", b"e"), (b"l", b"l"), (b"he", b"ll"),
                      (b" ", b"w")]
    bpe = ByteBPE(merges)
    # 'hell' -> he+ll -> hell (one token); 'o' unmerged
    assert bpe.count("hello") == 2
    # ' world': 'Ġw' merges, 'orld' stays bytes -> 1+4
    assert bpe.count(" world") == 5


def test_parse_merges_txt_header_only_on_first_line():
    """`#version` is skipped only as the line-0 header; a later two-token
    line starting with '#' is a merge pair."""
    from pii_filter_spark.core.bpe import parse_merges_txt

    txt = "#version: 0.2\na b\n#version x\n"
    assert parse_merges_txt(txt) == [(b"a", b"b"), (b"#version", b"x")]
    assert parse_merges_txt("a b\n#version: 0.2\n") == [
        (b"a", b"b"), (b"#version:", b"0.2")
    ]


def test_parse_merges_txt_rejects_garbage():
    import pytest

    from pii_filter_spark.core.bpe import parse_merges_txt

    with pytest.raises(ValueError):
        parse_merges_txt("a b c\n")          # three tokens
    with pytest.raises(ValueError):
        parse_merges_txt("\x00 b\n")          # outside the byte alphabet


def test_parse_merges_txt_keeps_hash_initial_merges():
    # GPT-2's released table contains merges whose tokens begin with
    # '#' — only the '#version' HEADER is a comment.
    from pii_filter_spark.core.bpe import parse_merges_txt

    txt = "#version: 0.2\n# #\n## #\na b\n"
    assert parse_merges_txt(txt) == [
        (b"#", b"#"), (b"##", b"#"), (b"a", b"b")
    ]
