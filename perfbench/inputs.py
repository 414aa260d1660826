"""Seeded input generation, done before any timing.

The program under test only ever sees the files written here: page
tables and gold tables as parquet, annotation files as TSV.  Pages
come from the library's own deterministic corpus generator
(``neleval_spark.pipeline.corpus.gen_doc``), called in this process
and written with pyarrow, so no Spark job runs while inputs are made.
Gold triples are derived here in plain Python from the planted
mentions, independently of the pipeline's triple emitter.
"""

from __future__ import annotations

import itertools
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from neleval_spark.pipeline.corpus import KB, gen_doc

# Common-Crawl page weight: tens of paragraphs, ~7 KB html, ~100
# mentions per page (bench.py's pipeline setting)
MIN_SENTS, MAX_SENTS = 60, 90
# pages are split over this many parquet files: the scan stage (fused
# extract+NER) gets one task per file, as with a crawl table
PAGE_FILES = 8
# crawl churn between two generations, as shares of the first
CHANGED, ADDED, REMOVED = 0.05, 0.01, 0.01

PAGES_SCHEMA = pa.schema([
    ("url", pa.string()), ("warc_ts", pa.timestamp("us", tz="UTC")),
    ("html", pa.binary()), ("text", pa.string()), ("lang", pa.string()),
])
TRIPLES_SCHEMA = pa.schema([
    ("subj", pa.string()), ("pred", pa.string()), ("obj", pa.string()),
    ("url", pa.string()),
])
KB_SCHEMA = pa.schema([
    ("alias", pa.string()), ("eid", pa.string()),
    ("canonical", pa.string()), ("type", pa.string()),
    ("prior", pa.float64()), ("keyword", pa.string()),
])


def write_kb(path: str) -> None:
    """The alias dictionary (``corpus.kb_table``'s rows) as parquet."""
    rows = [(alias, eid, name, etype, prior, kw)
            for eid, name, aliases, etype, prior, kw in KB
            for alias in aliases]
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pylist(
        [dict(zip(KB_SCHEMA.names, r)) for r in rows], KB_SCHEMA),
        os.path.join(path, "part-0.parquet"))


def page_triples(doc: dict) -> set[tuple[str, str, str]]:
    """Gold triples of one generated page: ``(eid, mentioned_in, url)``
    per distinct entity and ``(a, cooccurs_with, b)``, a < b, per
    entity pair sharing a sentence."""
    url = doc["url"]
    out = {(m[3], "mentioned_in", url) for m in doc["mentions"]}
    by_sent: dict[int, set[str]] = {}
    for m in doc["mentions"]:
        by_sent.setdefault(m[5], set()).add(m[3])
    for eids in by_sent.values():
        out.update((a, "cooccurs_with", b)
                   for a, b in itertools.combinations(sorted(eids), 2))
    return out


def write_pages(path: str, docs: list[dict]) -> None:
    os.makedirs(path, exist_ok=True)
    per_file = -(-len(docs) // PAGE_FILES)
    for i in range(PAGE_FILES):
        chunk = docs[i * per_file:(i + 1) * per_file]
        if not chunk:
            break
        table = pa.Table.from_pylist(
            [{k: d[k] for k in PAGES_SCHEMA.names} for d in chunk],
            PAGES_SCHEMA)
        pq.write_table(table, os.path.join(path, f"part-{i:03d}.parquet"))


def make_docs(doc_ids, seed: int) -> list[dict]:
    return [gen_doc(i, seed, MIN_SENTS, MAX_SENTS) for i in doc_ids]


def write_gold_triples(path: str, docs: list[dict]) -> None:
    """Gold ``(subj, pred, obj, url)`` rows of ``docs``, one per
    distinct triple per page — the row shape ``emit_triples`` gives."""
    rows = [{"subj": t[0], "pred": t[1], "obj": t[2], "url": d["url"]}
            for d in docs for t in sorted(page_triples(d))]
    os.makedirs(path, exist_ok=True)
    pq.write_table(pa.Table.from_pylist(rows, TRIPLES_SCHEMA),
                   os.path.join(path, "part-0.parquet"))


def recrawl(n_docs: int, seed: int) -> tuple[list[dict], list[dict]]:
    """Two crawl generations over the same urls.  A seeded share
    ``CHANGED`` of pages get new content (a page regenerated under
    another seed keeps its url), ``ADDED`` new urls appear and
    ``REMOVED`` disappear."""
    rng = random.Random(seed)
    ids = list(range(n_docs))
    removed = set(rng.sample(ids, int(n_docs * REMOVED)))
    kept = [i for i in ids if i not in removed]
    changed = set(rng.sample(kept, int(n_docs * CHANGED)))
    added = range(n_docs, n_docs + int(n_docs * ADDED))
    prev = make_docs(ids, seed)
    by_id = dict(zip(ids, prev))
    new = [gen_doc(i, seed + 1, MIN_SENTS, MAX_SENTS) if i in changed
           else by_id[i] for i in kept]
    new += make_docs(added, seed)
    return prev, new


TYPES = ["PER", "ORG", "GPE", "LOC", "FAC"]


def write_annotations(data_dir: str, n_docs: int, seed: int) -> int:
    """Gold and perturbed system annotation TSVs, the shape of
    scripts/bench_vs_reference.py (~10 mentions per doc, 25% NIL;
    the system misses ~5%, relinks ~5%, retypes ~5% and adds ~5%
    spurious mentions).  Returns the number of lines written."""
    rng = random.Random(seed)
    os.makedirs(data_dir, exist_ok=True)
    lines = 0
    with open(os.path.join(data_dir, "gold.tsv"), "w") as g, \
            open(os.path.join(data_dir, "system.tsv"), "w") as s:
        for d in range(n_docs):
            docid = f"doc{d:07d}"
            pos = 0
            for _ in range(rng.randint(6, 14)):
                start = pos + rng.randint(1, 30)
                end = start + rng.randint(2, 18)
                pos = end
                kbid = (f"E{rng.randint(1, 2000):05d}"
                        if rng.random() > 0.25
                        else f"NIL{rng.randint(1, 5000):05d}")
                t = rng.choice(TYPES)
                g.write(f"{docid}\t{start}\t{end}\t{kbid}\t1.0\t{t}\n")
                lines += 1
                r = rng.random()
                if r < 0.05:
                    continue
                skbid, st = kbid, t
                if r < 0.10:
                    skbid = f"E{rng.randint(1, 2000):05d}"
                elif r < 0.15:
                    st = rng.choice(TYPES)
                s.write(f"{docid}\t{start}\t{end}\t{skbid}\t1.0\t{st}\n")
                lines += 1
                if rng.random() < 0.05:
                    fs = pos + rng.randint(1, 9)
                    fe = fs + rng.randint(2, 9)
                    pos = fe
                    s.write(f"{docid}\t{fs}\t{fe}\t"
                            f"E{rng.randint(1, 2000):05d}\t1.0\t"
                            f"{rng.choice(TYPES)}\n")
                    lines += 1
    return lines
