"""CCNet head/middle/tail perplexity binning (Wenzek et al. 2020 §4.3)."""

import hashlib

from pii_filter_spark.core.langid import detect_language
from pii_filter_spark.core.perplexity import perplexity
from pii_filter_spark.operators.ccnet_bins import (
    HEAD,
    MIDDLE,
    SAMPLE_PER_LANG,
    TAIL,
    ccnet_bins,
    tercile_cutoffs,
)


def test_tercile_cutoffs_order_statistics():
    # n=9: head cutoff = 3rd value, mid cutoff = 6th value.
    ppls = [float(x) for x in range(1, 10)]
    assert tercile_cutoffs(ppls) == (3.0, 6.0)
    # n=1: both cutoffs collapse to the single value -> everything head.
    assert tercile_cutoffs([7.5]) == (7.5, 7.5)
    # n=2: ceil(2/3)=1 -> first value, ceil(4/3)=2 -> second value.
    assert tercile_cutoffs([1.0, 2.0]) == (1.0, 2.0)


def _twin(rows):
    """Driver-free twin of the operator: same md5-order bounded sample,
    same discrete tercile cutoffs, same <= comparisons."""
    lang = {d: detect_language(t) for d, t in rows}
    ppl = {d: round(perplexity(t), 4) for d, t in rows}
    by_lang = {}
    for d, _ in rows:
        by_lang.setdefault(lang[d], []).append(d)
    cuts = {}
    for lg, ids in by_lang.items():
        ids.sort(key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
        cuts[lg] = tercile_cutoffs(sorted(ppl[i] for i in ids[:SAMPLE_PER_LANG]))
    out = {}
    for d, _ in rows:
        t_head, t_mid = cuts[lang[d]]
        out[d] = HEAD if ppl[d] <= t_head else MIDDLE if ppl[d] <= t_mid else TAIL
    return out


def test_ccnet_bins_matches_twin_and_terciles(spark):
    base = [
        "A fotografia mostra uma mulher sorrindo na praia ao amanhecer",
        "O relatório anual da empresa foi publicado ontem pela manhã",
        "As crianças brincavam no parque perto da escola municipal",
        "zxqv kjw qqxz vkj zzxw pqkz jvvx wqzk bfgt nplr",
        "The engineering team finished the quarterly project on time",
        "The picture shows an employee smiling at the office camera",
        "qwk zzv xjq wvv kqz jxx",
    ]
    # more rows per language than the threshold sample takes, so the
    # md5-order sample decides the cutoffs
    rows = [(i, f"{base[i % len(base)]} variação {i * 37 % 11}") for i in range(1200)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    got = {
        r["doc_id"]: (r["lang"], r["ppl"], r["bin"])
        for r in ccnet_bins(df).collect()
    }
    assert len(got) == len(rows)
    langs = [lang for lang, _, _ in got.values()]
    assert max(langs.count(lg) for lg in set(langs)) > SAMPLE_PER_LANG
    want = _twin(rows)
    assert {d: b for d, (_, _, b) in got.items()} == want

    # Within each language the bins must be ordered: every head ppl <=
    # every middle ppl <= every tail ppl (cutoffs are per-language).
    by_lang = {}
    for lang, ppl, b in got.values():
        by_lang.setdefault(lang, {HEAD: [], MIDDLE: [], TAIL: []})[b].append(ppl)
    for lang, bins in by_lang.items():
        if bins[HEAD] and bins[MIDDLE]:
            assert max(bins[HEAD]) <= min(bins[MIDDLE])
        if bins[MIDDLE] and bins[TAIL]:
            assert max(bins[MIDDLE]) <= min(bins[TAIL])


def test_ccnet_bins_small_sample_still_covers_every_language(spark):
    # SAMPLE_PER_LANG smaller than some strata: every row still binned
    # (the cutoff table has one row per observed language).
    n = SAMPLE_PER_LANG + 44
    rows = [(i, "apenas texto curto em português número " + str(i)) for i in range(n)]
    rows += [(n + i, "short english caption text number " + str(i)) for i in range(3)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = ccnet_bins(df).collect()
    assert len(out) == len(rows)
    assert {r["bin"] for r in out} <= {HEAD, MIDDLE, TAIL}


def test_ccnet_bins_empty_input(spark):
    df = spark.createDataFrame([], "doc_id: long, text: string")
    assert ccnet_bins(df).collect() == []
