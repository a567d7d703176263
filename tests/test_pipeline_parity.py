"""Engine-vs-oracle parity on the synthetic pages corpus (BASELINE.md):
byte-identical scrubbed text per url, identical entity dicts, identical
keep/drop (F1 must be 1.0 — shared kernel), rule vector equality between
native-Spark SQL and pure-Python renderings.
"""

import math

import pytest

from pii_extract_base_spark.pipeline import QualityPipeline, DEFAULT_LANGUAGES
from pii_extract_base_spark.sources.pages import synth_pages, build_page, page_record
from pii_extract_base_spark.oracle import oracle_page

SF_DIR = "/root/testdata/sf0.001"
N_DOCS = 400  # cap for test speed


@pytest.fixture(scope="module")
def results(spark):
    pages = synth_pages(spark, SF_DIR).where(f"url is not null").limit(N_DOCS)
    pipe = QualityPipeline(DEFAULT_LANGUAGES)
    rows = pipe(pages).collect()
    assert len(rows) == N_DOCS
    return rows


def test_scrubbed_text_byte_identical(results):
    for row in results:
        exp = oracle_page(row.text, row.lang, row.url, DEFAULT_LANGUAGES)
        assert row.scrubbed_text == exp["scrubbed_text"], row.url


def test_entities_exact(results):
    for row in results:
        exp = oracle_page(row.text, row.lang, row.url, DEFAULT_LANGUAGES)
        got = [e.asDict() for e in row.entities]
        assert got == exp["entities"], row.url


def test_keep_f1_is_one(results):
    tp = fp = fn = 0
    for row in results:
        exp = oracle_page(row.text, row.lang, row.url, DEFAULT_LANGUAGES)
        assert sorted(row.reasons) == sorted(exp["reasons"]), row.url
        if row.keep and exp["keep"]:
            tp += 1
        elif row.keep and not exp["keep"]:
            fp += 1
        elif not row.keep and exp["keep"]:
            fn += 1
    f1 = 2 * tp / (2 * tp + fp + fn) if tp else 0.0
    assert f1 == 1.0


def test_rules_native_vs_python(results):
    for row in results:
        exp = oracle_page(row.text, row.lang, row.url, DEFAULT_LANGUAGES)
        assert row.rules.asDict() == exp["rules"], row.url


def test_scores_match(results):
    for row in results:
        exp = oracle_page(row.text, row.lang, row.url, DEFAULT_LANGUAGES)
        assert row.lang_pred == exp["lang_pred"]
        assert math.isclose(row.lang_conf, exp["lang_conf"], rel_tol=1e-12)
        assert math.isclose(row.logppl, exp["logppl"], rel_tol=1e-12)


def test_expected_defect_classes(results):
    """Class-level keep/drop expectations (pages synthesizer contract)."""
    from pii_extract_base_spark.sources.pages import DROP_CLASSES, N_CLASSES
    for row in results:
        doc_id = None
        # recover doc_id via url hash is overkill: recompute page records
    # build an index url -> doc_id
    import hashlib
    by_url = {}
    for doc_id in range(N_DOCS * 3):
        h = hashlib.sha1(str(doc_id).encode()).hexdigest()[:8]
        by_url[f"https://site{doc_id % 97}.example/{h}"] = doc_id
    n_drop = 0
    for row in results:
        doc_id = by_url.get(row.url)
        if doc_id is None:
            continue
        cls = (doc_id // 10) % N_CLASSES
        if cls in DROP_CLASSES:
            assert not row.keep, (row.url, cls, row.reasons)
            n_drop += 1
        else:
            assert row.keep, (row.url, cls, row.reasons)
    assert n_drop > 0


def test_entities_present_for_injected_classes(results):
    """Injected-PII classes must produce the expected entity types."""
    import hashlib
    from pii_extract_base_spark.sources.pages import N_CLASSES
    by_url = {}
    for doc_id in range(N_DOCS * 3):
        h = hashlib.sha1(str(doc_id).encode()).hexdigest()[:8]
        by_url[f"https://site{doc_id % 97}.example/{h}"] = doc_id
    checked = set()
    for row in results:
        doc_id = by_url.get(row.url)
        if doc_id is None:
            continue
        cls = (doc_id // 10) % N_CLASSES
        types = {e["type"] for e in row.entities}
        if cls == 1:
            assert "CREDIT_CARD" in types, row.url
            assert "<CREDIT_CARD>" in row.scrubbed_text
        elif cls == 2:
            assert "CREDIT_CARD" not in types, row.url  # two-phase validate
        elif cls == 3:
            assert "PHONE_NUMBER" in types, row.url
        elif cls == 4:
            assert "PHONE_NUMBER" not in types, row.url  # context-dropped
        elif cls == 5:
            assert "EMAIL_ADDRESS" in types, row.url
        elif cls == 6:
            vals = [e["value"] for e in row.entities
                    if e["type"] == "BANK_ACCOUNT"]
            assert vals == ["DE89 3704 0044 0532 0130 00"], row.url
        elif cls == 8:
            assert "TOXIC" in types, row.url
            assert "<TOXIC>" in row.scrubbed_text
        checked.add(cls)
    assert {1, 2, 3, 4, 5, 6, 8} <= checked


# Each text bites on one place where the text semantics (ASCII
# whitespace, "\n"-only lines, space-only trimming, ASCII letters; see
# functions/quality.py) could differ between the renderings.
RULE_EDGE_TEXTS = [
    # CRLF: a "\r" line is not blank, so these lines are duplicates
    "The cat and the dog\r\nare in the house\r\n" + "\r\n" * 5
    + "of the world today and more words here ok fine",
    "the\tcat\tand\tthe\tdog\tof\tin\tto\t" * 3,                 # tabs
    "   \n   \n  \nthe cat is in the house of the world and some more "
    "words to pass\n   \n",                                # space-only lines
    "  - item one\n  * item two\n • item three\n-x\n\t- tab bullet\n"
    "the and of to in",                                # indented bullets
    "wait for it... \nand then… \nmore... \nstop...\r\nthe and of in the "
    "words here ok ok ok ok ok ok",                    # trailing spaces
    "...\n…\n....\n. . .\n",
    "the\xa0cat\xa0and\xa0the\xa0dog of in to " * 3,             # NBSP
    "123 456 789 !!! ??? the and of 1 2 3 4 5 6 7 8 9 0 a",  # no letters
    "ÉTÉ été é ñ ü the and of " * 3,                   # non-ASCII letters
    "THE AND OF TO IN IS IT THAT " * 3,                # upper-case stopwords
    "a\x0bb\x0cc d e f g h i j k l m n o p q r",         # \v and \f
    "x" * 13 + " " + "y" * 13,
    "line\nline\nline\nline\nother\n",
    "",
    None,
]


def test_rules_edge_cases_match_python(spark):
    from pii_extract_base_spark.functions.quality import (
        RULE_NAMES, rules_columns, rules_python)
    rows = [(i, t, lang) for i, t in enumerate(RULE_EDGE_TEXTS)
            for lang in ("en", "fr", "xx", None)]
    cols = rules_columns("text", "lang")
    got = (spark.createDataFrame(rows, "i int, text string, lang string")
           .select("i", "text", "lang",
                   *[cols[n].alias(n) for n in RULE_NAMES])
           .orderBy("i", "lang").collect())
    assert len(got) == len(rows)
    for r in got:
        assert {n: r[n] for n in RULE_NAMES} == \
            rules_python(r.text, r.lang), (r.text, r.lang)


def test_rules_struct_has_no_lambda(spark):
    """The rules vector is HOF-free: no lambda runs outside codegen."""
    from pii_extract_base_spark.functions.quality import rules_struct_column
    df = spark.createDataFrame([("x", "en")], "text string, lang string")
    analyzed = (df.select(rules_struct_column("text", "lang"))
                ._jdf.queryExecution().analyzed().toString())
    assert "lambdafunction" not in analyzed.lower(), analyzed


def _pages_slices(spark, n=30):
    pages = synth_pages(spark, SF_DIR).where("url is not null")
    return (pages.orderBy("url").limit(n),
            pages.orderBy(pages.url.desc()).limit(n))


def test_pipeline_reused_across_dataframes(spark):
    """One pipeline applied to two DataFrames returns what fresh
    instances return."""
    a, b = _pages_slices(spark)
    pipe = QualityPipeline(DEFAULT_LANGUAGES)
    by_url = lambda df: sorted(df.collect(), key=lambda r: r.url)
    reused = [by_url(pipe(df)) for df in (a, b)]
    fresh = [by_url(QualityPipeline(DEFAULT_LANGUAGES)(df)) for df in (a, b)]
    assert reused == fresh
    assert not {r.url for r in reused[0]} & {r.url for r in reused[1]}


def test_pipeline_second_call_py4j_traffic(spark, monkeypatch):
    """Applying a built pipeline costs a few dozen py4j round trips,
    not the thousands that building the expression tree takes."""
    import py4j.clientserver as cs
    a, b = _pages_slices(spark)
    pipe = QualityPipeline(DEFAULT_LANGUAGES)
    pipe(a)
    calls = []
    send = cs.ClientServerConnection.send_command

    def counting(self, command, *args, **kwargs):
        calls.append(command)
        return send(self, command, *args, **kwargs)

    monkeypatch.setattr(cs.ClientServerConnection, "send_command", counting)
    pipe(b)
    monkeypatch.undo()
    assert 0 < len(calls) <= 100, len(calls)
