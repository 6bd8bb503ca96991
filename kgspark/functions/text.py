"""Text scalar functions — all JVM-side Spark SQL expressions where possible.

- ``html_to_text``: byte-identical inverse of kgspark.synth.wrap_html
  (BASELINE.json input_hint invariant), pure `regexp_extract` + `replace`
  chain → stays inside whole-stage codegen, no Python.
- ``tokenize``: the fulltext tokenizer (reference fulltext_query /
  lucene_sanitize, search_utils.py:59-76, helpers.py:45-79) as
  `split(lower(...), '\\W+')`.
- name normalization + acronym (dedup support, SURVEY D2/D5).
- ``url_group_id``: the one url → ``group_id`` rule (the url's host).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

ARTICLE_OPEN = '<article data-kg="content">'
ARTICLE_CLOSE = "</article>"


def url_group_id(url: Column) -> Column:
    """group_id = the url's host: the graph partition key, and through
    GraphStore's ``gpart`` hash the url-hash bucket of every table."""
    return F.regexp_extract(url, r"^https?://([^/]+)/", 1)


def html_to_text(html: Column) -> Column:
    """Extract article body from the page html, byte-identical to the
    original text per url. Inverse of synth.wrap_html: slice between the
    article markers, then unescape &lt; &gt; &amp; (amp last)."""
    s = F.decode(html, "UTF-8")
    body = F.regexp_extract(s, r'<article data-kg="content">((?s:.*?))</article>', 1)
    return (
        F.replace(
            F.replace(
                F.replace(body, F.lit("&lt;"), F.lit("<")),
                F.lit("&gt;"),
                F.lit(">"),
            ),
            F.lit("&amp;"),
            F.lit("&"),
        )
    )


def tokenize(text: Column) -> Column:
    """Lowercased word tokens: split on non-alphanumeric runs, drop empties.
    Replaces the reference's Lucene analyzer (search_utils.py:59-76)."""
    return F.filter(F.split(F.lower(text), r"[^a-z0-9]+"), lambda t: t != "")


def norm_name(name: Column) -> Column:
    """Canonical name key for exact-name dedup (D1, reference
    bulk_utils.py:278-288 matches on raw name; we normalize case/space/punct
    so 'Acme  Corp.' == 'acme corp')."""
    cleaned = F.regexp_replace(F.lower(F.trim(name)), r"[^a-z0-9 ]", " ")
    return F.regexp_replace(F.trim(cleaned), r"\s+", " ")


def acronym(name: Column) -> Column:
    """Uppercase initialism of a multi-word name: 'San Francisco' → 'SF'.
    Used by the alias-candidate generator (D2)."""
    toks = F.filter(F.split(F.trim(name), r"\s+"), lambda t: t != "")
    return F.upper(F.concat_ws("", F.transform(toks, lambda t: F.substring(t, 1, 1))))


def last_token(name: Column) -> Column:
    return F.element_at(F.split(F.trim(name), r"\s+"), -1)


def lucene_sanitize(q: Column) -> Column:
    """Escape Lucene special characters (reference helpers.py:45-79) —
    kept for API parity; our BM25 path tokenizes instead of parsing."""
    return F.regexp_replace(q, r'([+\-&|!(){}\[\]^"~*?:\\\/])', r"\\$1")
