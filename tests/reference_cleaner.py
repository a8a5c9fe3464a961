"""DECLARED LITERAL TRANSCRIPTION (test-only oracle) of the reference text
cleaner, ``src/pattern/utils.py`` of the FolkScope reference (MIT).

``URL_REGEX_PATTERN`` is the reference's ``URL_REGEX`` string literal, split
across lines only by implicit string concatenation.  Provenance: it is the
pattern of ``folkscope_spark/textnorm.py`` at commit 13c6f80, which
``test_url_regex_byte_identical_to_reference`` proved byte-identical to the
literal in the mounted reference source (suite at 204 passed / 1 skipped);
that pattern has not changed since.  ``reference_clean`` re-executes the
reference cleaner's four steps (utils.py:195-214) in order.

Same role as ``tests/reference_port.py`` plays for the matcher: no
``folkscope_spark`` imports, so the production cleaner is differential-tested
against an independent copy.
"""

from __future__ import annotations

import re

URL_REGEX_PATTERN = (
    r"(?i)\b((?:https?:(?:/{1,3}|[a-z0-9%])|[a-z0-9.\-]+[.](?:com|net|"
    r"org|edu|gov|mil|aero|asia|biz|cat|coop|info|int|jobs|mobi|museum|"
    r"name|post|pro|tel|travel|xxx|ac|ad|ae|af|ag|ai|al|am|an|ao|aq|ar|"
    r"as|at|au|aw|ax|az|ba|bb|bd|be|bf|bg|bh|bi|bj|bm|bn|bo|br|bs|bt|bv|"
    r"bw|by|bz|ca|cc|cd|cf|cg|ch|ci|ck|cl|cm|cn|co|cr|cs|cu|cv|cx|cy|cz|"
    r"dd|de|dj|dk|dm|do|dz|ec|ee|eg|eh|er|es|et|eu|fi|fj|fk|fm|fo|fr|ga|"
    r"gb|gd|ge|gf|gg|gh|gi|gl|gm|gn|gp|gq|gr|gs|gt|gu|gw|gy|hk|hm|hn|hr|"
    r"ht|hu|id|ie|il|im|in|io|iq|ir|is|it|je|jm|jo|jp|ke|kg|kh|ki|km|kn|"
    r"kp|kr|kw|ky|kz|la|lb|lc|li|lk|lr|ls|lt|lu|lv|ly|ma|mc|md|me|mg|mh|"
    r"mk|ml|mm|mn|mo|mp|mq|mr|ms|mt|mu|mv|mw|mx|my|mz|na|nc|ne|nf|ng|ni|"
    r"nl|no|np|nr|nu|nz|om|pa|pe|pf|pg|ph|pk|pl|pm|pn|pr|ps|pt|pw|py|qa|"
    r"re|ro|rs|ru|rw|sa|sb|sc|sd|se|sg|sh|si|sj|Ja|sk|sl|sm|sn|so|sr|ss|"
    r"st|su|sv|sx|sy|sz|tc|td|tf|tg|th|tj|tk|tl|tm|tn|to|tp|tr|tt|tv|tw|"
    r"tz|ua|ug|uk|us|uy|uz|va|vc|ve|vg|vi|vn|vu|wf|ws|ye|yt|yu|za|zm|"
    r"zw)/)(?:[^\s()<>{}\[\]]+|\([^\s()]*?\([^\s()]+\)[^\s()]*?\)|"
    r"\([^\s]+?\))+(?:\([^\s()]*?\([^\s()]+\)[^\s()]*?\)|\([^\s]+?\)|"
    r'[^\s`!()\[\]{};:\'".,<>?«»“”‘’])|'
    r"(?:(?<!@)[a-z0-9]+(?:[.\-][a-z0-9]+)*[.](?:com|net|org|edu|gov|"
    r"mil|aero|asia|biz|cat|coop|info|int|jobs|mobi|museum|name|post|"
    r"pro|tel|travel|xxx|ac|ad|ae|af|ag|ai|al|am|an|ao|aq|ar|as|at|au|"
    r"aw|ax|az|ba|bb|bd|be|bf|bg|bh|bi|bj|bm|bn|bo|br|bs|bt|bv|bw|by|bz|"
    r"ca|cc|cd|cf|cg|ch|ci|ck|cl|cm|cn|co|cr|cs|cu|cv|cx|cy|cz|dd|de|dj|"
    r"dk|dm|do|dz|ec|ee|eg|eh|er|es|et|eu|fi|fj|fk|fm|fo|fr|ga|gb|gd|ge|"
    r"gf|gg|gh|gi|gl|gm|gn|gp|gq|gr|gs|gt|gu|gw|gy|hk|hm|hn|hr|ht|hu|id|"
    r"ie|il|im|in|io|iq|ir|is|it|je|jm|jo|jp|ke|kg|kh|ki|km|kn|kp|kr|kw|"
    r"ky|kz|la|lb|lc|li|lk|lr|ls|lt|lu|lv|ly|ma|mc|md|me|mg|mh|mk|ml|mm|"
    r"mn|mo|mp|mq|mr|ms|mt|mu|mv|mw|mx|my|mz|na|nc|ne|nf|ng|ni|nl|no|np|"
    r"nr|nu|nz|om|pa|pe|pf|pg|ph|pk|pl|pm|pn|pr|ps|pt|pw|py|qa|re|ro|rs|"
    r"ru|rw|sa|sb|sc|sd|se|sg|sh|si|sj|Ja|sk|sl|sm|sn|so|sr|ss|st|su|sv|"
    r"sx|sy|sz|tc|td|tf|tg|th|tj|tk|tl|tm|tn|to|tp|tr|tt|tv|tw|tz|ua|ug|"
    r"uk|us|uy|uz|va|vc|ve|vg|vi|vn|vu|wf|ws|ye|yt|yu|za|zm|"
    r"zw)\b/?(?!@)))"
)


_URL_RE = re.compile(URL_REGEX_PATTERN, re.IGNORECASE)


def reference_clean(text: str) -> str:
    """The reference cleaner, step for step (utils.py:195-214)."""
    text = re.sub(r"[^\x00-\x7F]+", " ", text)
    text = re.sub(r"<ref(.*?)>", "<ref>", text)
    text = re.sub(_URL_RE, "<url>", text)
    text = re.sub(r"<url>[\(\)\[\]]*<url>", "<url>", text)
    return text.strip()
