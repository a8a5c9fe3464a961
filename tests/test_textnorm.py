"""Golden tests for the byte-identical text-extraction contract (SURVEY.md §5.2 #1)."""

import ast
import warnings
from pathlib import Path

import pytest

from folkscope_spark.textnorm import URL_REGEX, clean_text, split_long_text, split_sentences
from tests.reference_cleaner import URL_REGEX_PATTERN
from tests.reference_cleaner import reference_clean as _reference_clean

REF_UTILS = Path("/root/reference/src/pattern/utils.py")


def _reference_url_pattern() -> str:
    """Extract the URL regex string literal from the reference source (no import —
    the reference module pulls in stanfordnlp at import time)."""
    src = REF_UTILS.read_text()
    with warnings.catch_warnings():
        # the reference source itself contains non-raw '\]' escapes; the
        # warning belongs to that file, not to this suite
        # two calls: simplefilter's documented contract is a single Warning
        # subclass (the tuple form only works via an issubclass detail)
        warnings.simplefilter("ignore", DeprecationWarning)
        warnings.simplefilter("ignore", SyntaxWarning)
        tree = ast.parse(src)
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign):
            for tgt in node.targets:
                if isinstance(tgt, ast.Name) and tgt.id == "URL_REGEX":
                    call = node.value
                    return ast.literal_eval(call.args[0])
    raise AssertionError("URL_REGEX literal not found in reference source")


@pytest.mark.skipif(not REF_UTILS.exists(), reason="reference not mounted")
def test_url_regex_byte_identical_to_reference():
    assert URL_REGEX.pattern == _reference_url_pattern() == URL_REGEX_PATTERN


def test_url_regex_byte_identical_to_transcribed_reference():
    assert URL_REGEX.pattern == URL_REGEX_PATTERN


ADVERSARIAL = [
    "plain ascii text stays untouched",
    "unicodeéè runs你好 collapse   to spaces",
    "see <ref name=x attr='y'> and <ref> markers",
    "visit https://example.com/path?q=1 for info",
    "bare domain example.com and example.org/page too",
    "paired (http://a.com/x)(http://b.net/y) urls",
    "trailing spaces and unicode ’ quote   ",
    "parens url http://en.wikipedia.org/wiki/Spark_(software) kept whole",
    "email not@a.url.com should not fully match the mailto part",
    "mixed: über cool site www.test.de/page <ref foo> end.",
    "",
    "   ",
    "<url>[]<url> already-collapsed pair",
    "tab\tand\nnewline survive (ascii)",
    # round-6 fast-path gate boundaries: each char that bypasses the gate
    # without actually firing a rule must still produce identical output
    "a colon alone: like this fires no rule",
    "a dot alone. ends a sentence but is no tld",
    "a stray < less-than with no ref tag",
    "ftp:notaurl but has the colon gate char",
    "v1.2 versions and file.txt names stay",
]


@pytest.mark.parametrize("text", ADVERSARIAL)
def test_clean_text_byte_identical(text):
    assert clean_text(text) == _reference_clean(text)


def test_split_sentences_basic():
    assert split_sentences("One fish. Two fish! Red fish? Blue fish") == [
        "One fish.",
        "Two fish!",
        "Red fish?",
        "Blue fish",
    ]


def test_split_sentences_newlines():
    assert split_sentences("para one line.\n\npara two line.") == [
        "para one line.",
        "para two line.",
    ]


def test_split_long_text_short_passthrough():
    assert split_long_text("short") == ["short"]


def test_split_long_text_respects_cap():
    text = ("word " * 600).strip()  # ~3000 chars, no sentence bounds
    parts = split_long_text(text, max_len=100)
    assert all(len(p) <= 100 for p in parts)
    assert " ".join(parts) == text


def test_split_long_text_paragraphs_first():
    a = "a" * 700
    b = "b" * 700
    assert split_long_text(f"{a}\n\n{b}", max_len=1024) == [a, b]


def test_reference_parity_relation_drop():
    """Pin the reference's observable propertOf/propertyOf typo behavior
    (SURVEY.md §3.4): parity mode drops propertyOf from the minable set;
    default mode mines all 20 non-open relations."""
    from folkscope_spark.relations import minable_relations

    default = minable_relations()
    parity = minable_relations(reference_parity=True)
    assert "propertyOf" in default and len(default) == 20
    assert "propertyOf" not in parity and len(parity) == 19
    assert "open" not in default
