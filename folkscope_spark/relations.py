"""Relation vocabulary for the FolkScope-style intention KG.

The reference defines 21 ConceptNet-style relations twice: once as LLM prompt
suffixes (``/root/reference/src/generator/prompt.py:5-27``) and once as
POS-template prefixes used to anchor pattern mining
(``/root/reference/src/pattern/utils.py:8-30``).  The reference has a typo —
``propertOf`` in the pattern table vs ``propertyOf`` in the prompt table — which
silently drops that relation during mining (see SURVEY.md §3.4).  We key
everything off one explicit enum and expose a ``REFERENCE_PARITY`` switch that
reproduces the reference's observable drop for parity tests.
"""

from __future__ import annotations

# relation -> (cobuy prompt suffix, single-item prompt suffix)
# parity: /root/reference/src/generator/prompt.py:5-27
PROMPTS: dict[str, tuple[str, str]] = {
    "open": ("because", "because"),
    "relatedTo": ("because they both are related to", "because the product is related to"),
    "isA": ("because they both are a type of", "because the product is a type of"),
    "partOf": ("because they both are a part of", "because the product is a part of"),
    "madeOf": ("because they both are made of", "because the product is made of"),
    "similarTo": ("because they both are similar to", "because the product is similar to"),
    "createdBy": ("because they are created by", "because the product is created by"),
    "hasA": ("because they both have", "because the product has"),
    "propertyOf": ("because they both have a property of", "because the product has a property of"),
    "distinctFrom": ("because they are distinct from", "because the product is distinct from"),
    "usedFor": ("because they are both used for", "because the product is used for"),
    "can": ("because they could both", "because the product could"),
    "capableOf": ("because they both are capable of", "because the product is capable of"),
    "definedAs": ("because they both are defined as", "because the product is defined as"),
    "symbolOf": ("because they both are symbols of", "because the product is symbols of"),
    "mannerOf": ("because they both are a manner of", "because the product is a manner of"),
    "deriveFrom": ("because they are derived from", "because the product is derived from"),
    "effect": ("as a result, the person will", "as a result, the person will"),
    "cause": ("because the person wants to", "because the person wants to"),
    "motivatedBy": ("and buying them was motivated by", "and buying them was motivated by"),
    "causeEffect": ("because the person wants his", "because the person wants his"),
}

# relation -> (mining anchor prefix, POS-tag prefix of that anchor)
# parity: /root/reference/src/pattern/utils.py:8-30 (keyed by the corrected
# relation name; the reference's "propertOf" typo is handled via PARITY_DROPPED)
POS_TEMPLATES: dict[str, tuple[str, str]] = {
    "open": ("", ""),
    "relatedTo": ("they both are related to", "PRP DT VBP JJ TO"),
    "isA": ("they both are a type of", "PRP DT VBP DT NN IN"),
    "partOf": ("they both are a part of", "PRP DT VBP DT NN IN"),
    "madeOf": ("they both are made of", "PRP DT VBP VBN IN"),
    "similarTo": ("they both are similar to", "PRP DT VBP JJ TO"),
    "createdBy": ("they are created by", "PRP VBP VBN IN"),
    "hasA": ("they both have", "PRP DT VBP"),
    "propertyOf": ("they both have a property of", "PRP DT VBP DT NN IN"),
    "distinctFrom": ("they are distinct from", "PRP VBP JJ IN"),
    "usedFor": ("they are both used for", "PRP VBP DT VBN IN"),
    "can": ("they could both", "PRP MD CC"),
    "capableOf": ("they both are capable of", "PRP DT VBP JJ IN"),
    "definedAs": ("they both are defined as", "PRP DT VBP VBN IN"),
    "symbolOf": ("they both are symbols of", "PRP DT VBP NNS IN"),
    "mannerOf": ("they both are a manner of", "PRP DT VBP DT NN IN"),
    "deriveFrom": ("they are derived from", "PRP VBP VBN IN"),
    "effect": ("the person will", "DT NN MD"),
    "cause": ("the person wants to", "DT NN VBZ TO"),
    "motivatedBy": ("buying them was motivated by", "VBG PRP VBD VBN IN"),
    "causeEffect": ("the person wants his", "DT NN VBZ PRP$"),
}

RELATIONS: tuple[str, ...] = tuple(PROMPTS)


def template_anchor_len(relation: str) -> int:
    """Token length of ``relation``'s POS-template anchor (0 when it has none
    or the relation is unknown)."""
    return len(POS_TEMPLATES.get(relation, ("", ""))[1].split())

# Relations the reference cannot mine: "propertyOf" (typo mismatch drops its
# rows at generation_parser.py:129-130) and "open" (empty template skipped at
# pattern_filter.py:56-60).  With REFERENCE_PARITY=True the pipeline reproduces
# the drop; by default we mine all 20 non-open relations.
PARITY_DROPPED: frozenset[str] = frozenset({"propertyOf"})

# POS-tag classes steering match/extraction semantics
# parity: /root/reference/src/pattern/utils.py:32-35
MUST_POS_TAGS = frozenset(["IN", "CC", "TO"])
OPTIONAL_POS_TAGS = frozenset(["JJ", "JJR", "JJS", "RB", "RBR", "RBS", "DT", "PRP$"])
IGNORE_POS_TAGS = frozenset([".", ",", "``", "''", ":", "$", "(", ")", "#", "-LRB-", "-RRB-"])
FORBIDDEN_END_POS_TAGS = frozenset(["IN", "CC", "TO"])

# NER gates — parity: /root/reference/src/pattern/utils.py:39-47
TYPE_SET = frozenset(
    ["CITY", "ORGANIZATION", "COUNTRY", "STATE_OR_PROVINCE", "LOCATION", "NATIONALITY", "PERSON"]
)
PRONOUN_SET = frozenset(
    [
        "i", "I", "me", "my", "mine", "myself", "we", "us", "our", "ours", "ourselves",
        "you", "your", "yours", "yourself", "yourselves", "he", "him", "his", "himself",
        "she", "her", "hers", "herself", "it", "its", "itself",
        "they", "them", "their", "theirs", "themself", "themselves",
    ]
)

PUNCTUATION_SET = frozenset(list("""!"#&'*+,-..../:;<=>?@[\\]^_`|~""") + ["``", "''"])


def minable_relations(reference_parity: bool = False) -> list[str]:
    """Relations that participate in pattern mining."""
    rels = [r for r in RELATIONS if r != "open" and POS_TEMPLATES[r][0]]
    if reference_parity:
        rels = [r for r in rels if r not in PARITY_DROPPED]
    return rels


def prompt_text(relation: str, title_a: str, title_b: str | None = None) -> str:
    """Build the full LLM prompt for a pair (cobuy) or single item.

    parity: /root/reference/src/generator/prompt.py:39-100 (BehaviorTemplate).
    """
    if title_b is None:
        predicate = 'He bought a product of "%s" ' % title_a
        return predicate + PROMPTS[relation][1]
    predicate = 'He bought a product of "%s" and a product of "%s" ' % (title_a, title_b)
    return predicate + PROMPTS[relation][0]
