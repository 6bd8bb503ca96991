"""Deterministic Common-Crawl-style `pages` synthesizer (FIXTURES.md §1-2).

One row = one episode: ``(url, warc_ts, html, text, lang)`` per
BASELINE.json input_hint. Fully seeded — same (n_docs, seed) always
yields byte-identical rows, generated distributively via
``spark.range(n) → mapInPandas`` (no driver-side loop, scales to any n).

Golden narratives mirror the reference's own test stories so the
extraction/dedup/invalidation goldens are meaningful:
- Alice/Bob contradiction (reference tests/utils/maintenance/
  test_temporal_operations_int.py:44-91)
- Kamala Harris AG-term dates (reference examples/quickstart/quickstart.py:85-117)
- alias dedup SF/San Francisco, Harris/Kamala Harris
  (reference prompts/dedupe_nodes.py:100-107)
- message episodes "actor: content" (reference nodes.py:67-70)
- json episodes (reference prompts/extract_nodes.py:116-141)
"""

from __future__ import annotations

import random
from datetime import datetime, timedelta, timezone
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kgspark.functions.text import url_group_id
from kgspark.schemas import PAGES

EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)

# ------------------------------------------------------------------ html wrap
# The extractor (kgspark.functions.text.html_to_text) must recover `text`
# byte-identically per url (BASELINE.json input_hint).
_HTML_PRE = '<html><head><meta charset="utf-8"><title>%s</title></head><body><article data-kg="content">'
_HTML_POST = "</article></body></html>"


def html_escape(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def wrap_html(title: str, text: str) -> bytes:
    return ((_HTML_PRE % html_escape(title)) + html_escape(text) + _HTML_POST).encode("utf-8")


# ------------------------------------------------------------------ name pools
FIRST = ["Alice", "Bob", "Carol", "David", "Erin", "Frank", "Grace", "Henry",
         "Ivy", "Jack", "Kamala", "Liam", "Mona", "Nina", "Oscar", "Paula",
         "Quinn", "Rosa", "Sam", "Tara", "Uma", "Victor", "Wendy", "Xander",
         "Yara", "Zane"]
LAST = ["Smith", "Jones", "Harris", "Brown", "Garcia", "Miller", "Davis",
        "Wilson", "Moore", "Taylor", "Anderson", "Thomas", "Jackson", "White",
        "Martin", "Lee", "Walker", "Hall", "Young", "King"]
ORGS = ["Acme Corp", "Globex", "Initech", "Umbrella Corp", "Stark Industries",
        "Wayne Enterprises", "Hooli", "Vandelay Industries", "Wonka Industries",
        "Tyrell Corp", "Cyberdyne Systems", "Aperture Science"]
CITIES = ["San Francisco", "New York", "Paris", "London", "Berlin", "Tokyo",
          "Austin", "Seattle", "Chicago", "Boston", "Madrid", "Toronto"]
ROLES = ["Chief Executive", "Attorney General", "Head Engineer", "Finance Director",
         "Chief Scientist", "General Counsel"]

# predicate lexicon used by the generator AND (independently re-specified)
# by the extractor — present-tense sentiment verbs participate in
# contradiction chains.
SENT_VERBS = [("likes", "dislikes"), ("trusts", "distrusts"), ("supports", "opposes")]
PLAIN_VERBS = ["knows", "manages", "mentors"]
PAST_VERBS = ["met", "visited", "joined"]
FILLER_WORDS = ("the report covers quarterly results and the team reviewed "
                "progress on the roadmap while customers asked about pricing "
                "details during the call").split()


def _person(rng: random.Random) -> str:
    return f"{rng.choice(FIRST)} {rng.choice(LAST)}"


def _date_phrase(rng: random.Random, base: datetime) -> tuple[str, str]:
    """Returns (phrase, kind)."""
    k = rng.randrange(5)
    d1 = base - timedelta(days=rng.randrange(200, 2000))
    d2 = d1 + timedelta(days=rng.randrange(200, 1500))
    fmt = "%B %-d, %Y"
    if k == 0:
        return f"from {d1.strftime(fmt)} to {d2.strftime(fmt)}", "range"
    if k == 1:
        return f"since {d1.strftime(fmt)}", "since"
    if k == 2:
        return f"on {d1.strftime(fmt)}", "on"
    if k == 3:
        return "last year", "rel"
    return "", "none"


def _gen_doc(doc_id: int, n_groups: int, seed: int) -> dict:
    rng = random.Random((seed << 32) ^ doc_id)
    group = doc_id % n_groups
    domain = f"g{group}.example.org"
    ts = EPOCH + timedelta(minutes=7 * (doc_id // n_groups), seconds=group)
    kind_roll = rng.randrange(10)

    if kind_roll == 8:  # message episode
        speaker = rng.choice(FIRST).lower()
        city = rng.choice(CITIES)
        variants = [
            f"{speaker}: I moved to {city} last year",
            f"{speaker}: I work at {rng.choice(ORGS)}",
            f"{speaker}: I met {_person(rng)} yesterday",
        ]
        text = rng.choice(variants)
        url = f"https://{domain}/msg/{doc_id}"
        lang = "en"
    elif kind_roll == 9:  # json episode
        name = _person(rng)
        role = rng.choice(ROLES)
        org = rng.choice(ORGS)
        # hand-built JSON for byte determinism
        text = f'{{"name": "{name}", "position": "{role}", "employer": "{org}"}}'
        url = f"https://{domain}/json/{doc_id}"
        lang = "en"
    else:  # plain text narrative
        sents = []
        n_sents = 1 + rng.randrange(4)
        for _ in range(n_sents):
            s_kind = rng.randrange(6)
            if s_kind == 0:
                # contradiction chain: fixed pair per (group, chain slot), verb
                # flips with time so later docs supersede earlier facts
                chain = rng.randrange(4)
                crng = random.Random((seed << 16) ^ (group * 131 + chain))
                p1, p2 = _person(crng), _person(crng)
                pos, neg = SENT_VERBS[chain % len(SENT_VERBS)]
                verb = pos if (doc_id // n_groups) % 2 == 0 else neg
                sents.append(f"{p1} {verb} {p2}.")
            elif s_kind == 1:
                role, org = rng.choice(ROLES), rng.choice(ORGS)
                phrase, _k = _date_phrase(rng, ts.replace(tzinfo=timezone.utc))
                tail = f" {phrase}" if phrase else ""
                sents.append(f"{_person(rng)} is the {role} of {org}{tail}.")
            elif s_kind == 2:
                sents.append(f"{_person(rng)} works at {rng.choice(ORGS)}.")
            elif s_kind == 3:
                sents.append(f"{_person(rng)} lives in {rng.choice(CITIES)}.")
            elif s_kind == 4:
                sents.append(f"{_person(rng)} {rng.choice(PLAIN_VERBS + PAST_VERBS)} {_person(rng)}.")
            else:
                k = 3 + rng.randrange(8)
                sents.append(" ".join(rng.choice(FILLER_WORDS) for _ in range(k)) + ".")
        text = " ".join(sents)
        url = f"https://{domain}/doc/{doc_id}"
        lang = rng.choice(["en"] * 17 + ["de", "fr", "es"])

    return {
        "url": url,
        "warc_ts": ts.replace(tzinfo=None),  # stored as UTC-naive (session TZ=UTC)
        "html": wrap_html(f"doc {doc_id}", text),
        "text": text,
        "lang": lang,
    }


# ------------------------------------------------------------------ goldens
def golden_pages() -> list[dict]:
    """Fixed narrative docs (FIXTURES.md §2) on group 'golden'."""
    dom = "https://golden.example.org"
    t = lambda m: (EPOCH + timedelta(days=m)).replace(tzinfo=None)
    rows = [
        (f"{dom}/doc/a0", t(0), "Alice Smith likes Bob Jones.", "en"),
        (f"{dom}/doc/a1", t(10), "Alice Smith dislikes Bob Jones.", "en"),
        (f"{dom}/doc/k0", t(1),
         "Kamala Harris is the Attorney General of California from January 3, 2011 to January 3, 2017.",
         "en"),
        (f"{dom}/doc/k1", t(2), "Kamala Harris lives in San Francisco.", "en"),
        (f"{dom}/doc/k2", t(3), "Harris visited SF on March 5, 2023.", "en"),
        (f"{dom}/msg/m0", t(4), "user: I moved to Paris last year", "en"),
        (f"{dom}/json/j0", t(5),
         '{"name": "Gavin Newsom", "position": "Governor", "employer": "California"}', "en"),
        (f"{dom}/doc/s0", t(6), "Carol Brown lives in San Jose.", "en"),
    ]
    return [
        {"url": u, "warc_ts": ts, "html": wrap_html(u.rsplit("/", 1)[-1], tx),
         "text": tx, "lang": lg}
        for (u, ts, tx, lg) in rows
    ]


# ------------------------------------------------------------------ entry
def synth_pages(
    spark: SparkSession,
    n_docs: int = 2000,
    n_groups: int = 16,
    seed: int = 42,
    include_golden: bool = True,
    partitions: int | None = None,
) -> DataFrame:
    """Distributed deterministic generation: spark.range → mapInPandas."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [_gen_doc(int(i), n_groups, seed) for i in pdf["id"]]
            out = pd.DataFrame(rows)
            out["warc_ts"] = pd.to_datetime(out["warc_ts"])
            yield out

    rng = spark.range(0, n_docs, numPartitions=partitions or max(2, n_docs // 5000))
    df = rng.mapInPandas(gen, schema=PAGES)
    if include_golden:
        gold = spark.createDataFrame(pd.DataFrame(golden_pages()), schema=PAGES)
        df = df.unionByName(gold)
    return df


def group_id_col():
    """group_id of the ``url`` column (graph partition key)."""
    return url_group_id(F.col("url"))
