"""The three benchmark workloads.

Each workload object has the same surface:

* ``prepare()`` — writes the seeded inputs and computes, untimed,
  what the outputs are checked against;
* ``run(i)`` — one timed execution through the program's public entry
  point, returning a handle on its outputs;
* ``verify(out)`` — checks those outputs, returns a list of failures
  and the run's output facts (triples, sink bytes, F1);
* ``traced(i, tracer)`` — the same work as ``run`` with each layer's
  public function called in turn under its own span, each layer's
  output materialized before the next starts; returns the same kind
  of handle plus layer-specific counts.

A run reads its inputs through a fresh ``spark.read`` each time, so
no shuffle map output of an earlier run is ever reused.
"""

from __future__ import annotations

import os
import shutil

import duckdb
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import inputs
from neleval_spark.measures import evaluate, get_measure, parse_measures
from neleval_spark.measures.contingency import Matrix, contingency_df
from neleval_spark.pipeline.candidates import (
    generate_candidates, score_and_select, with_context_features)
from neleval_spark.pipeline.canonicalize import canonicalize_nils
from neleval_spark.pipeline.incremental import (
    incremental_triples, page_diff)
from neleval_spark.pipeline.ner import extract_and_detect, gazetteer_from_kb
from neleval_spark.pipeline.run import (
    build_mentions, release_materialized, run_pipeline)
from neleval_spark.pipeline.triples import emit_triples, write_triples
from neleval_spark.sources.tsv import read_annotations_tsv
from neleval_spark.stats import bootstrap_confidence, per_doc_contingency

TRIPLE = ["subj", "pred", "obj"]
MIN_F1 = 0.95


def fold(triples: DataFrame) -> tuple[int, int]:
    """(rows, bit_xor of xxhash64(subj, pred, obj)): forces every
    column to be computed, unlike a bare count."""
    row = triples.agg(F.count(F.lit(1)).alias("n"),
                      F.expr("bit_xor(xxhash64(subj, pred, obj))")
                      .alias("x")).first()
    return row["n"], row["x"] or 0


def triple_prf(sys_triples: DataFrame, gold: DataFrame) -> dict:
    """Set P/R/F1 of triples.  The benchmark's own, apart from
    ``pipeline.run.triple_prf``, so that a change to the program cannot
    loosen its own check."""
    s = sys_triples.select(*TRIPLE).distinct().withColumn("_s", F.lit(1))
    g = gold.select(*TRIPLE).distinct().withColumn("_g", F.lit(1))
    row = s.join(g, TRIPLE, "full_outer").agg(
        F.count_if(F.col("_s").isNotNull() & F.col("_g").isNotNull())
        .alias("tp"),
        F.count_if(F.col("_g").isNull()).alias("fp"),
        F.count_if(F.col("_s").isNull()).alias("fn")).first()
    tp, fp, fn = row["tp"], row["fp"], row["fn"]
    p = tp / (tp + fp) if tp + fp else 0.0
    r = tp / (tp + fn) if tp + fn else 0.0
    return {"precision": p, "recall": r,
            "f1": 2 * p * r / (p + r) if p + r else 0.0}


def parquet_bytes(path: str) -> tuple[int, int]:
    """(data files, bytes) of the parquet files under ``path``."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


class Workload:
    docs: int  # input documents of one run

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def read(self, name: str) -> DataFrame:
        return self.spark.read.parquet(self.path(name))

    def materialize(self, df: DataFrame, name: str) -> DataFrame:
        """Write a layer's output to scratch parquet and read it back."""
        p = self.path("layers", name)
        df.write.mode("overwrite").parquet(p)
        return self.spark.read.parquet(p)

    def link(self, pages: DataFrame, kb: DataFrame, tracer, tag: str
             ) -> DataFrame:
        """``build_mentions(..., canonicalize=False)`` one layer at a
        time: extract+NER, then candidates and scoring."""
        with tracer.span("ner", "ner"):
            gaz = gazetteer_from_kb(kb)
            mentions = self.materialize(extract_and_detect(
                pages.where(F.col("lang") == "en"), gazetteer=gaz),
                f"{tag}mentions")
        with tracer.span("candidates", "candidates"):
            cands = with_context_features(
                generate_candidates(mentions, kb))
            linked = self.materialize(
                score_and_select(cands.repartition(F.col("url"))),
                f"{tag}linked")
        return linked

    def link_counts(self, linked: DataFrame, canon: DataFrame) -> dict:
        """Counts of the linking layers: ``linked`` is the candidates
        layer's output, ``canon`` the canonicalize layer's."""
        row = linked.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.size("candidates")).alias("cands"),
            F.count_if(F.col("eid").isNull()).alias("nil")).first()
        nil = canon.where(F.col("eid").startswith("NIL")).agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("eid").alias("ids")).first()
        n = max(row["n"], 1)
        return {"ner.mentions_out": row["n"],
                "candidates.cands_per_mention": row["cands"] / n,
                "candidates.linked_frac": 1 - row["nil"] / n,
                "canonicalize.nil_mentions": nil["n"],
                "canonicalize.components": nil["ids"]}

    def sink_counts(self, run_dir: str, n_triples: int) -> dict:
        """Counts of one run's triple files under ``run_dir``."""
        files, size = parquet_bytes(run_dir)
        return {"triples.triples_out": n_triples,
                "triples.files_written": files,
                "triples.bytes_written_mb": size / 1e6}


class CrawlBuild(Workload):
    """One crawl generation through ``run_pipeline`` into a fresh
    append-layout triple sink."""

    name = "crawl_build"
    N_DOCS = 300

    def prepare(self) -> None:
        docs = inputs.make_docs(range(self.N_DOCS), self.seed)
        inputs.write_pages(self.path("pages"), docs)
        inputs.write_kb(self.path("kb"))
        inputs.write_gold_triples(self.path("gold"), docs)
        self.docs = len(docs)
        self.docs_en = sum(d["lang"] == "en" for d in docs)
        self.expected = None

    def run(self, i: int) -> str:
        out = self.path("out", str(i))
        res = run_pipeline(self.read("pages"), self.read("kb"),
                           out_dir=out)
        release_materialized(res["mentions"])
        return out

    def verify(self, out: str) -> tuple[list[str], dict]:
        triples = self.spark.read.parquet(os.path.join(out, "triples"))
        n, chk = fold(triples)
        manifest_rows = self.spark.read.parquet(
            os.path.join(out, "manifest")).agg(F.sum("n_rows")).first()[0]
        failures = []
        if manifest_rows != n:
            failures.append(f"manifest n_rows {manifest_rows} != {n} "
                            "triples read back")
        facts = {"triples": n}
        if self.expected is None:
            prf = triple_prf(triples, self.read("gold"))
            facts["triple_f1"] = prf["f1"]
            if min(prf.values()) < MIN_F1:
                failures.append(f"triple P/R/F {prf} below {MIN_F1}")
            self.expected = (n, chk)
        elif (n, chk) != self.expected:
            failures.append(f"triples (rows, checksum) {(n, chk)} != "
                            f"first run's {self.expected}")
        facts["sink_bytes"] = parquet_bytes(os.path.join(out, "triples"))[1]
        shutil.rmtree(out, ignore_errors=True)
        return failures, facts

    def traced(self, i: int, tracer) -> tuple[str, dict]:
        out = self.path("out", str(i))
        kb = self.read("kb")
        linked = self.link(self.read("pages"), kb, tracer, "")
        with tracer.span("canonicalize", "canonicalize"):
            canon = self.materialize(canonicalize_nils(linked), "canon")
        with tracer.span("triples", "triples"):
            with tracer.span("triples.emit", "triples"):
                triples = self.materialize(emit_triples(canon), "triples")
            with tracer.span("triples.write", "triples"):
                manifest = write_triples(triples, out)
        n = manifest.agg(F.sum("n_rows")).first()[0]
        counts = {"ner.docs_in": self.docs_en,
                  **self.link_counts(linked, canon),
                  **self.sink_counts(os.path.join(out, "triples"), n)}
        return out, counts


class RecrawlDelta(Workload):
    """The next crawl generation through ``incremental_triples``,
    written into the run_id layout beside the previous generation."""

    name = "recrawl_delta"
    N_DOCS = 300
    PREV_RUN, RUN = "gen-000001", "gen-000002"

    def prepare(self) -> None:
        prev, new = inputs.recrawl(self.N_DOCS, self.seed)
        inputs.write_pages(self.path("prev"), prev)
        inputs.write_pages(self.path("new"), new)
        inputs.write_kb(self.path("kb"))
        inputs.write_gold_triples(self.path("gold"), new)
        inputs.write_gold_triples(self.path("prev_gold"), prev)
        self.docs = len(new)
        prev_ids = {d["url"]: d["html"] for d in prev}
        self.fresh_en = sum(d["lang"] == "en" and
                            prev_ids.get(d["url"]) != d["html"]
                            for d in new)
        kb = self.read("kb")
        # the state an incremental job starts from: the stored linked
        # mentions of the previous generation, and that generation in
        # the sink (its gold triples, which the pipeline reproduces
        # exactly, bucketed as emit_triples does)
        build_mentions(self.read("prev"), kb, canonicalize=False) \
            .write.parquet(self.path("prev_linked"))
        self.out = self.path("sink")
        write_triples(self.read("prev_gold").withColumn(
            "part_id", F.pmod(F.xxhash64("url"), F.lit(64))), self.out,
            run_id=self.PREV_RUN, overwrite_run=True)
        # exactness contract: the incremental result must equal a full
        # rebuild of the new generation
        self.expected = fold(emit_triples(build_mentions(
            self.read("new"), kb)))
        self.checked_f1 = False

    def run(self, i: int) -> str:
        triples = incremental_triples(
            self.read("prev"), self.read("new"),
            self.read("prev_linked"), self.read("kb"))
        write_triples(triples, self.out, run_id=self.RUN,
                      overwrite_run=True)
        return self.out

    def run_dir(self) -> str:
        return os.path.join(self.out, "triples", f"run_id={self.RUN}")

    def this_run(self) -> DataFrame:
        return self.spark.read.parquet(
            os.path.join(self.out, "triples")).where(
            F.col("run_id") == self.RUN)

    def verify(self, out: str) -> tuple[list[str], dict]:
        triples = self.this_run()
        got = fold(triples)
        failures = []
        if got != self.expected:
            failures.append(f"incremental (rows, checksum) {got} != full "
                            f"rebuild {self.expected}")
        manifest_rows = self.spark.read.parquet(
            os.path.join(out, "manifest")).where(
            F.col("run_id") == self.RUN).agg(F.sum("n_rows")).first()[0]
        if manifest_rows != got[0]:
            failures.append(f"manifest n_rows {manifest_rows} != "
                            f"{got[0]} triples read back")
        facts = {"triples": got[0]}
        if not self.checked_f1:
            prf = triple_prf(triples, self.read("gold"))
            facts["triple_f1"] = prf["f1"]
            if min(prf.values()) < MIN_F1:
                failures.append(f"triple P/R/F {prf} below {MIN_F1}")
            self.checked_f1 = True
        facts["sink_bytes"] = parquet_bytes(self.run_dir())[1]
        return failures, facts

    def traced(self, i: int, tracer) -> tuple[str, dict]:
        prev, new = self.read("prev"), self.read("new")
        kb = self.read("kb")
        with tracer.span("incremental", "incremental"):
            with tracer.span("incremental.diff", "incremental"):
                diff = self.materialize(page_diff(prev, new), "diff")
            with tracer.span("incremental.reuse", "incremental"):
                kept = self.materialize(self.read("prev_linked").join(
                    diff.where(F.col("status") == "unchanged")
                    .select("url"), "url", "left_semi"), "kept")
        todo = diff.where(F.col("status").isin("added", "changed")) \
            .select("url")
        fresh = self.link(new.join(todo, "url", "left_semi"), kb, tracer,
                          "fresh_")
        linked = kept.unionByName(fresh)
        with tracer.span("canonicalize", "canonicalize"):
            canon = self.materialize(canonicalize_nils(linked), "canon")
        with tracer.span("triples", "triples"):
            with tracer.span("triples.emit", "triples"):
                triples = self.materialize(emit_triples(canon), "triples")
            with tracer.span("triples.write", "triples"):
                write_triples(triples, self.out, run_id=self.RUN,
                              overwrite_run=True)
        n_kept = kept.count()
        counts = {"ner.docs_in": self.fresh_en,
                  "incremental.fresh_docs": todo.count(),
                  **self.link_counts(fresh, canon),
                  **self.sink_counts(self.run_dir(),
                                     self.this_run().count())}
        counts["incremental.reuse_frac"] = n_kept / max(
            n_kept + counts["ner.mentions_out"], 1)
        return self.out, counts


# the tac14 measures checked against an independent DuckDB computation
# (key columns, filter) — set measures exactly, B-cubed to 1e-9
ORACLE_SETS = {
    "strong_link_match": (["docid", "start", '"end"', "kbid"], "is_linked"),
    "strong_nil_match": (["docid", "start", '"end"'], "is_nil"),
    "strong_all_match": (["docid", "start", '"end"', "kbid"], None),
    "strong_mention_match": (["docid", "start", '"end"'], None),
    "strong_typed_mention_match": (["docid", "start", '"end"', "type"],
                                   None),
    "strong_typed_all_match": (["docid", "start", '"end"', "type", "kbid"],
                               None),
}
ORACLE_BCUBED = {
    "b_cubed": ["docid", "start", '"end"'],
    "b_cubed_plus": ["docid", "start", '"end"', "kbid"],
}


def duckdb_oracle(gold_tsv: str, sys_tsv: str) -> dict[str, tuple]:
    """(ptp, fp, rtp, fn) per measure, straight from the TSVs."""
    con = duckdb.connect()
    try:
        for name, path in (("g", gold_tsv), ("s", sys_tsv)):
            con.execute(f"""
                CREATE TABLE {name} AS
                SELECT docid, start, "end", eid, type,
                       eid LIKE 'NIL%' AS is_nil,
                       NOT (eid LIKE 'NIL%') AS is_linked,
                       CASE WHEN NOT (eid LIKE 'NIL%') THEN eid END AS kbid
                FROM read_csv('{path}', delim='\t', header=false,
                    columns={{'docid': 'VARCHAR', 'start': 'BIGINT',
                              'end': 'BIGINT', 'eid': 'VARCHAR',
                              'score': 'DOUBLE', 'type': 'VARCHAR'}})""")
        out = {}
        for m, (key, flt) in ORACLE_SETS.items():
            k = ", ".join(key)
            where = f"WHERE {flt}" if flt else ""
            tp, fp, fn = con.execute(f"""
                SELECT count(*) FILTER (WHERE g AND s),
                       count(*) FILTER (WHERE NOT g),
                       count(*) FILTER (WHERE NOT s)
                FROM (SELECT {k}, bool_or(side = 1) AS g,
                             bool_or(side = 2) AS s
                      FROM (SELECT {k}, 1 AS side FROM g {where}
                            UNION ALL SELECT {k}, 2 FROM s {where})
                      GROUP BY ALL)""").fetchone()
            out[m] = (tp, fp, tp, fn)
        for m, key in ORACLE_BCUBED.items():
            k = ", ".join(key)
            on = " AND ".join(f"gp.{c} IS NOT DISTINCT FROM sp.{c}"
                              for c in key)
            p_num, r_num, p_den, r_den = con.execute(f"""
                WITH gp AS (SELECT DISTINCT eid, {k} FROM g),
                     sp AS (SELECT DISTINCT eid, {k} FROM s),
                     ng AS (SELECT eid, count(*) AS n FROM gp GROUP BY eid),
                     ns AS (SELECT eid, count(*) AS n FROM sp GROUP BY eid),
                     i AS (SELECT gp.eid AS ge, sp.eid AS se,
                                  count(*) AS c
                           FROM gp JOIN sp ON {on} GROUP BY 1, 2)
                SELECT sum(c * c / ns.n), sum(c * c / ng.n),
                       (SELECT sum(n) FROM ns), (SELECT sum(n) FROM ng)
                FROM i JOIN ns ON i.se = ns.eid
                       JOIN ng ON i.ge = ng.eid""").fetchone()
            out[m] = (p_num, p_den - p_num, r_num, r_den - r_num)
        return out
    finally:
        con.close()


class EvalTac14(Workload):
    """The evaluation engine: TSV read → tac14 measures → bootstrap
    confidence intervals for strong_link_match."""

    name = "eval_tac14"
    N_DOCS = 500
    TRIALS = 200
    CI_MEASURE = "strong_link_match"

    def prepare(self) -> None:
        d = self.path("tsv")
        self.lines = inputs.write_annotations(d, self.N_DOCS, self.seed)
        self.gold_tsv = os.path.join(d, "gold.tsv")
        self.sys_tsv = os.path.join(d, "system.tsv")
        self.docs = self.N_DOCS
        self.expected = duckdb_oracle(self.gold_tsv, self.sys_tsv)

    def sides(self) -> tuple[DataFrame, DataFrame]:
        return (read_annotations_tsv(self.spark, self.sys_tsv),
                read_annotations_tsv(self.spark, self.gold_tsv))

    def confidence(self) -> dict:
        return bootstrap_confidence(
            per_doc_contingency(*self.sides(), self.CI_MEASURE),
            n_trials=self.TRIALS, seed=self.seed)

    def run(self, i: int) -> tuple[dict, dict]:
        results = evaluate(*self.sides(), measures="tac14")
        return results, self.confidence()

    def verify(self, out) -> tuple[list[str], dict]:
        results, ci = out
        failures = []
        for m, exp in self.expected.items():
            r = results[m]
            got = (r["ptp"], r["fp"], r["rtp"], r["fn"])
            if any(abs(a - b) > 1e-9 * max(1.0, abs(b))
                   for a, b in zip(got, exp)):
                failures.append(f"{m}: {got} != oracle {exp}")
        f1 = Matrix(*self.expected[self.CI_MEASURE]).results["fscore"]
        f = ci["fscore"]
        if abs(f["score"] - f1) > 1e-12 or not f[99][0] <= f1 <= f[99][1]:
            failures.append(f"bootstrap fscore {f} inconsistent with "
                            f"oracle F1 {f1}")
        return failures, {}

    def traced(self, i: int, tracer) -> tuple[tuple, dict]:
        with tracer.span("sources", "sources"):
            sys_df, gold_df = (df.persist() for df in self.sides())
            for df in (sys_df, gold_df):
                df.write.format("noop").mode("overwrite").save()
        results = {}
        with tracer.span("measures", "measures"):
            for name in parse_measures("tac14"):
                kind = "clustering" if get_measure(name).is_clustering \
                    else "sets"
                with tracer.span(f"measures.{name}", f"measures.{kind}"):
                    row = contingency_df(sys_df, gold_df,
                                         get_measure(name)).first()
                results[name] = Matrix(row["ptp"], row["fp"], row["rtp"],
                                       row["fn"]).results
        sys_df.unpersist()
        gold_df.unpersist()
        with tracer.span("stats", "stats") as s:
            ci = self.confidence()
        counts = {"sources.rows_out": self.lines,
                  "stats.trials_per_s": self.TRIALS / (s["end"] - s["start"])}
        return (results, ci), counts


WORKLOADS = {w.name: w for w in (CrawlBuild, RecrawlDelta, EvalTac14)}
