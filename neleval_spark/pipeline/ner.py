"""Batched NER mention detection.

Gazetteer + casing-evidence tagger over extracted text, run as
``mapInPandas`` (Arrow batch in, mention rows out — SURVEY.md §2.10).
Public-knowledge design (no learned weights, fully deterministic):

* **Gazetteer longest-match** — the KB alias dimension doubles as a
  dictionary; at each token the longest alias token-sequence match
  wins (the standard dictionary-tagger primitive).  Dictionary
  matches take precedence over the casing heuristics, so known names
  are found even sentence-initially or in odd case contexts.
* **Capitalized-run fallback** for out-of-dictionary (NIL) names:
  maximal runs of capitalized tokens, filtered by the classic casing
  rules (Mikheev 1999, "A Knowledge-Free Method for Capitalized Word
  Disambiguation"; the CoNLL-2003 baseline used the same signals):
  a single-token run that is a function word is never a name, and a
  single-token run in SENTENCE-INITIAL position counts only with
  document-level casing evidence (the same token capitalized in a
  non-initial position elsewhere in the document).  Multi-token runs
  are kept unconditionally — internal capitalization is itself the
  evidence.

Offsets follow the reference convention: ``end`` is INCLUSIVE
(reference doc/formats.rst:21-24). Each mention carries its line
("sentence") index and the line text as linking context for the
scoring stage.

Scale shape: the gazetteer is a plain dict built once from the alias
dim table (driver-side collect of the same small table the candidate
join broadcasts) and shipped inside the task closure; detection stays
one fused Arrow hop with no extra shuffle.
"""

from __future__ import annotations

import re
from typing import Iterator, Mapping, Sequence

import pandas as pd
from pyspark.sql import DataFrame

# maximal single-space-separated runs of capitalized tokens — the C-
# speed scan that skips all-lowercase text.  Both detection passes are
# anchored on these runs: dictionary entries are titlecase named
# entities, so every dictionary match lies INSIDE a capitalized run,
# and the per-run Python work is O(run tokens), not O(text tokens).
MENTION_RE = re.compile(r"[A-Z][A-Za-z&'-]*(?: [A-Z][A-Za-z&'-]*)*")

# sentence-initial capitalization of these is pure orthography, never
# a name (closed-class function words; "I" is capitalized everywhere)
FUNCTION_WORDS = frozenset(
    "the a an and or but if when while after before as at by for in on "
    "of to from with without it its he his she her they their we our "
    "you your i this that these those there here not no yes however "
    "meanwhile according moreover also once since because although "
    "during under over between against".split())

NER_SCHEMA = ("url string, start long, end long, surface string, "
              "sent_uid int, context string")

Gazetteer = Mapping[str, Sequence[tuple[str, ...]]]


def build_gazetteer(aliases: Sequence[str]) -> Gazetteer:
    """Alias strings → first-token-indexed dictionary; each bucket
    holds the alias token tuples sorted longest-first so the matcher's
    first hit IS the longest match.  Entries are expected to be
    titlecase named entities (every token capitalized, single-space
    separated) — the run-anchored matcher cannot see anything else."""
    by_first: dict[str, list[tuple[str, ...]]] = {}
    for a in aliases:
        toks = tuple(t for t in a.split(" ") if t)
        if toks:
            by_first.setdefault(toks[0], []).append(toks)
    for seqs in by_first.values():
        seqs.sort(key=len, reverse=True)
    return by_first


def _sentence_initial(line: str, pos: int) -> bool:
    """A run starting at ``pos`` is sentence-initial if only spaces
    separate it from the line start or from .!? terminal punctuation."""
    i = pos - 1
    while i >= 0 and line[i] == " ":
        i -= 1
    return i < 0 or line[i] in ".!?"


def detect_mentions_text(text: str, gazetteer: Gazetteer | None = None):
    """Pure per-document tagger: yields
    (start, end_inclusive, surface, line_idx, line_text). The title
    line is line 0; sentence lines are numbered from 0 to match the
    corpus generator's sent_uid."""
    gaz = gazetteer or {}
    lines = text.split("\n")
    line_runs = [[(m.start(), m.group())
                  for m in MENTION_RE.finditer(line)] for line in lines]

    # document-level casing evidence: tokens seen capitalized in a
    # NON-initial position anywhere in the document (every mid-run
    # token is non-initial; a run's first token is when the run isn't)
    interior_caps = set()
    for line, runs in zip(lines, line_runs):
        for rs, g in runs:
            toks = g.split(" ")
            interior_caps.update(toks[1:])
            if not _sentence_initial(line, rs):
                interior_caps.add(toks[0])

    offset = 0
    for li, (line, runs) in enumerate(zip(lines, line_runs)):
        for rs, g in runs:
            toks = g.split(" ")
            pos = []  # char start of each run token
            p = rs
            for t in toks:
                pos.append(p)
                p += len(t) + 1
            i = 0
            while i < len(toks):
                w = toks[i]
                # 1) dictionary longest-match takes precedence
                matched = False
                for seq in gaz.get(w, ()):
                    j = i + len(seq) - 1
                    if j < len(toks) and tuple(toks[i:j + 1]) == seq:
                        s, e = pos[i], pos[j] + len(toks[j]) - 1
                        yield (offset + s, offset + e, line[s:e + 1],
                               li - 1, line)
                        i = j + 1
                        matched = True
                        break
                if matched:
                    continue
                # 2) fallback sub-run: absorb tokens up to the next
                #    dictionary entry point (the dictionary owns those)
                j = i
                while j + 1 < len(toks) and toks[j + 1] not in gaz:
                    j += 1
                keep = True
                if j == i:  # single-token run: casing rules apply
                    if w.lower() in FUNCTION_WORDS:
                        keep = False
                    elif (i == 0 and _sentence_initial(line, rs)
                          and w not in interior_caps):
                        keep = False
                if keep:
                    s, e = pos[i], pos[j] + len(toks[j]) - 1
                    yield (offset + s, offset + e, line[s:e + 1],
                           li - 1, line)
                i = j + 1
        offset += len(line) + 1


def detect_mentions(pages: DataFrame,
                    gazetteer: Gazetteer | None = None) -> DataFrame:
    """url+text → mention rows."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for url, text in zip(pdf["url"], pdf["text"]):
                for s, e, surf, li, line in detect_mentions_text(
                        text, gazetteer):
                    out.append((url, s, e, surf, li, line))
            yield pd.DataFrame(
                out, columns=["url", "start", "end", "surface",
                              "sent_uid", "context"])

    return pages.select("url", "text").mapInPandas(gen, schema=NER_SCHEMA)


def extract_and_detect(pages: DataFrame,
                       gazetteer: Gazetteer | None = None) -> DataFrame:
    """url+html → mention rows, extraction and NER fused into ONE
    Python hop.

    Fusing them keeps a single Arrow boundary: the per-document text
    never crosses back into the JVM, as it would between an extract
    UDF and a mapInPandas.  (The link-score UDF does run chained after
    this operator, in one stage; see docs/PLANS.md for what that chain
    costs.)
    """
    from .extract import extract_text

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for url, html in zip(pdf["url"], pdf["html"]):
                text = extract_text(html)
                for s, e, surf, li, line in detect_mentions_text(
                        text, gazetteer):
                    out.append((url, s, e, surf, li, line))
            yield pd.DataFrame(
                out, columns=["url", "start", "end", "surface",
                              "sent_uid", "context"])

    return pages.select("url", "html").mapInPandas(gen, schema=NER_SCHEMA)


MAX_GAZETTEER_ALIASES = 10_000_000


def gazetteer_from_kb(kb: DataFrame) -> Gazetteer:
    """Build the tagger dictionary from the alias dim table (one
    driver-side collect of the SAME small table the candidate stage
    broadcasts — not a data-proportional collect).

    The collect is BOUNDED: a KB whose distinct alias set exceeds
    ``MAX_GAZETTEER_ALIASES`` (~10^7, the point where the driver-side
    dict rivals the broadcast limit) fails fast with a clear message
    instead of OOM-ing the driver mid-collect.  The scalable path at
    that size: keep candidate generation as the broadcast/shuffle
    join it already is and run the tagger on casing evidence only
    (``detect_mentions`` with an empty gazetteer) — the alias dict is
    a recall booster, not a correctness requirement."""
    aliases = kb.select("alias").distinct()
    # ONE bounded query: a root-level limit collects incrementally, so
    # the size guard and the data arrive in the same driver round trip
    # (the former count()-then-collect() shape paid two queries per
    # pipeline run); limit+1 rows prove the overflow without ever
    # collecting more than the cap, and the message needs no count.
    rows = aliases.limit(MAX_GAZETTEER_ALIASES + 1).collect()
    if len(rows) > MAX_GAZETTEER_ALIASES:
        raise ValueError(
            f"KB has more than {MAX_GAZETTEER_ALIASES:,} distinct aliases "
            "(MAX_GAZETTEER_ALIASES); a driver-side gazetteer this "
            "large would exhaust driver memory. Run the tagger with a "
            "truncated/curated alias list, or with an empty gazetteer "
            "(casing evidence only) and let the candidate-generation "
            "join handle alias matching distributedly.")
    return build_gazetteer([r["alias"] for r in rows])
