"""Deterministic text normalization / tokenization / extraction.

Mirrors the reference's preprocessing semantics without its spaCy
dependency (see SURVEY.md §2.7):

- ``extract_text``  ≙ the reference's title/abstract extraction
  (/root/reference/src/evanil/annotations.py:130-138) — the only "text
  extraction" it performs.  Ours is the html→text function for the
  webtext input; it must be a pure function of the bytes so every run,
  every partitioning, and the oracle produce byte-identical output per
  url (BASELINE.json per-row invariant).
- ``norm_form``     ≙ the lowercase/strip/char-fixup chain scattered
  through the reference (/root/reference/src/REEL/candidates.py:421-422,
  /root/reference/src/REEL/pre_process.py:151).
- ``tokenize_entity`` ≙ get_tokens_4_entity
  (/root/reference/src/utils/utils.py:362-377): split on spaces,
  single-token entities duplicated to ``[t, t]``, only the first two
  tokens participate in scoring.
- ``singularize``   ≙ the plural-strip cache probe
  (/root/reference/src/REEL/candidates.py:39-41).
- ``singularize_col`` its Spark column twin, for the block keys and the
  scalar_normalize contract row.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

_TAG_RE = re.compile(rb"<[^>]*>")
_WS_RE = re.compile(r"\s+")
_PUNCT_RE = re.compile(r"[^a-z0-9\- ]+")


def extract_text(html: bytes) -> str:
    """Pure html→text extraction; byte-identical per input.

    Strips tags, decodes utf-8 (replacement on invalid bytes so arbitrary
    binary never throws), collapses whitespace.  Deliberately simple and
    closed-form: at 10^12 documents this runs in mapInPandas and must not
    depend on library versions or locale.
    """
    no_tags = _TAG_RE.sub(b" ", html)
    text = no_tags.decode("utf-8", errors="replace")
    return _WS_RE.sub(" ", text).strip()


def norm_form(surface: str) -> str:
    """Normalize a mention surface form to its blocking/scoring key.

    lowercase → strip commas/apostrophes/colons (reference char fixups)
    → collapse non [a-z0-9- ] → squeeze whitespace.
    """
    s = surface.lower().replace(":", "_").replace(",", "").replace("'", "")
    s = _PUNCT_RE.sub(" ", s)
    return _WS_RE.sub(" ", s).strip()


def singularize(token: str) -> str:
    """Plural-strip probe: ``cells`` → ``cell`` (only a trailing 's')."""
    if len(token) > 3 and token.endswith("s") and not token.endswith("ss"):
        return token[:-1]
    return token


def singularize_col(token: Column) -> Column:
    """:func:`singularize` as a Spark column expression."""
    return F.when(
        (F.length(token) > 3) & token.endswith("s") & ~token.endswith("ss"),
        token.substr(F.lit(1), F.length(token) - 1),
    ).otherwise(token)


def tokenize_entity(entity: str) -> tuple[str, str]:
    """Entity string → exactly two tokens (left, right).

    Single-token entities are duplicated ``[t, t]``; for longer entities
    only the first two tokens are used — the reference's rule
    (/root/reference/src/utils/utils.py:362-377, 437).
    """
    toks = [t for t in entity.split(" ") if t]
    if not toks:
        return ("", "")
    if len(toks) == 1:
        return (toks[0], toks[0])
    return (toks[0], toks[1])
