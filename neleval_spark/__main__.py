"""Command-line surface mirroring the reference's subcommands
(reference dispatch: neleval/__main__.py:23-78) so a user of the
reference toolkit can run the same workflows on Spark:

    python -m neleval_spark evaluate SYSTEM -g GOLD [-m MEASURE ...]
    python -m neleval_spark prepare-tac LINKS -q QUERIES
    python -m neleval_spark prepare-tac15 SYSTEM
    python -m neleval_spark prepare-brat DIR
    python -m neleval_spark analyze SYSTEM -g GOLD [-s] [-u]
    python -m neleval_spark significance SYS1 SYS2 -g GOLD [-n N]
    python -m neleval_spark confidence SYSTEM -g GOLD [-n N]
    python -m neleval_spark list-measures
    python -m neleval_spark validate-spans FILE
    python -m neleval_spark weights-for-hierarchy JSON [-d DECAY]
    python -m neleval_spark select-alternatives SYSTEM -g GOLD [-f FIELDS]
    python -m neleval_spark run-pipeline CORPUS_PARQUET -o OUT_DIR
"""

from __future__ import annotations

import argparse
import json
import sys


def _spark():
    from .session import get_spark

    return get_spark(app_name="neleval_spark_cli")


def _load_type_weights(spark, path):
    from .operators.weights import load_type_weights

    return load_type_weights(spark, path)


def cmd_evaluate(args):
    from .measures import evaluate
    from .measures.contingency import tab_format
    from .sources.tsv import read_annotations_tsv

    spark = _spark()
    sys_df = read_annotations_tsv(spark, args.system)
    gold_df = read_annotations_tsv(spark, args.gold)
    weighting = None
    if args.type_weights:
        weighting = {"type": _load_type_weights(spark, args.type_weights)}
    res = evaluate(sys_df, gold_df,
                   measures=args.measures or "all",
                   group_by=args.group_by or None,
                   overall=args.overall,
                   weighting=weighting)
    if args.fmt == "json":
        print(json.dumps(res, indent=4, sort_keys=True))
    else:
        print(tab_format(res))


def _excluded_mapping(spark, args):
    from .sources.tac import read_excluded_spans_file, read_mapping_file

    excluded = (read_excluded_spans_file(spark, args.excluded)
                if getattr(args, "excluded", None) else None)
    mapping = (read_mapping_file(spark, args.mapping)
               if getattr(args, "mapping", None) else None)
    return excluded, mapping


def cmd_prepare_tac(args):
    from .sources.tac import prepare_tac
    from .sources.tsv import annotations_to_tsv_lines

    spark = _spark()
    excluded, mapping = _excluded_mapping(spark, args)
    df = prepare_tac(spark, args.system, args.queries,
                     excluded=excluded, mapping=mapping)
    for r in annotations_to_tsv_lines(df).orderBy(
            "docid", "start", "end").collect():
        print(r["value"])


def cmd_prepare_tac15(args):
    from .sources.tac import prepare_tac15
    from .sources.tsv import annotations_to_tsv_lines

    spark = _spark()
    excluded, mapping = _excluded_mapping(spark, args)
    df = prepare_tac15(spark, args.system,
                       excluded=excluded, mapping=mapping)
    for r in annotations_to_tsv_lines(df).orderBy(
            "docid", "start", "end").collect():
        print(r["value"])


def cmd_prepare_brat(args):
    from .sources.brat import read_brat
    from .sources.tsv import annotations_to_tsv_lines

    spark = _spark()
    _, mapping = _excluded_mapping(spark, args)
    df = read_brat(spark, args.dir, mapping=mapping)
    for r in annotations_to_tsv_lines(df).orderBy(
            "docid", "start", "end").collect():
        print(r["value"])


def cmd_analyze(args):
    from .analyze import error_summary, error_table
    from .sources.tsv import read_annotations_tsv

    spark = _spark()
    sys_df = read_annotations_tsv(spark, args.system)
    gold_df = read_annotations_tsv(spark, args.gold)
    if args.summary:
        for r in error_summary(sys_df, gold_df,
                               unique=args.unique).collect():
            print(f"{r['count']}\t{r['label']}")
    else:
        for r in error_table(sys_df, gold_df).orderBy(
                "docid", "start").collect():
            print(f"{r['label']}\t{r['docid']}\t"
                  f"g{r['gold_kbid']}\ts{r['system_kbid']}")


def cmd_significance(args):
    """All system pairs × all measures in one invocation (reference
    Significance.__call__, significance.py:129-149: measures computed
    once per system, then itertools.combinations over systems with
    measures in catalog order inside each pair)."""
    import itertools

    from .measures.catalog import parse_measures
    from .sources.tsv import read_annotations_tsv
    from .stats import per_doc_contingency, permutation_test
    from .stats.significance import significance_tab_format

    if len(args.systems) < 2:
        raise SystemExit("Require at least two systems to compare")
    spark = _spark()
    gold = read_annotations_tsv(spark, args.gold)
    measures = parse_measures(args.measures or ["strong_all_match"],
                              incl_clustering=False)
    metrics = tuple(args.metrics)
    # per-doc contingency tables once per (system, measure), like the
    # reference's count_all pass per system
    per_doc = {
        path: {m: per_doc_contingency(
            read_annotations_tsv(spark, path), gold, m)
            for m in measures}
        for path in args.systems
    }
    results = [
        {"sys1": sys1, "sys2": sys2, "measure": m,
         "stats": permutation_test(per_doc[sys1][m], per_doc[sys2][m],
                                   n_trials=args.trials,
                                   metrics=metrics)}
        for sys1, sys2 in itertools.combinations(args.systems, 2)
        for m in measures
    ]
    if args.fmt == "json":
        print(json.dumps(results, indent=4, sort_keys=True))
    elif args.fmt == "tab":
        print(significance_tab_format(results, metrics=metrics))
    else:  # 'none': the reference prints the raw result repr
        print(results)


def cmd_confidence(args):
    """Percentile-bootstrap CIs for one system over all requested
    measures; tab output matches reference Confidence.tab_format
    column layout (significance.py:330-361) and re-ingests via
    read_confidence_tab_format."""
    from .measures.catalog import parse_measures
    from .sources.tsv import read_annotations_tsv
    from .stats import bootstrap_confidence, per_doc_contingency
    from .stats.significance import confidence_tab_format

    spark = _spark()
    gold = read_annotations_tsv(spark, args.gold)
    sys_df = read_annotations_tsv(spark, args.system)
    measures = parse_measures(args.measures or ["strong_all_match"],
                              incl_clustering=False)
    metrics = tuple(args.metrics)
    percentiles = tuple(args.percentiles)
    data = []
    for m in measures:
        pdc = per_doc_contingency(sys_df, gold, m)
        res = bootstrap_confidence(pdc, n_trials=args.trials,
                                   percentiles=percentiles,
                                   metrics=metrics,
                                   method=args.method)
        data.append({
            "measure": str(m),
            "overall": {k: res[k]["score"] for k in metrics},
            "intervals": {k: {p: res[k][p] for p in percentiles}
                          for k in metrics},
        })
    if args.fmt == "json":
        print(json.dumps(data, indent=4, sort_keys=True, default=str))
    elif args.fmt == "tab":
        print(confidence_tab_format(data, metrics=metrics,
                                    percentiles=percentiles))
    else:  # 'none': the reference prints the raw result repr
        print(data)


def cmd_list_measures(args):
    from .measures.catalog import MEASURE_SETS, MEASURES

    print("Name\tAggregate\tFilter\tKey")
    for name in sorted(MEASURES):
        m = MEASURES[name]
        print(f"{name}\t{m.agg}\t{m.filter}\t{'+'.join(m.key)}")
    print("\nGroups:", ", ".join(sorted(MEASURE_SETS)))


def cmd_validate_spans(args):
    from .operators.validate import validate_spans
    from .sources.tsv import read_annotations_tsv

    spark = _spark()
    df = read_annotations_tsv(spark, args.system)
    issues = validate_spans(df, duplicate=args.duplicate,
                            crossing=args.crossing, nested=args.nested)
    for r in issues.collect():
        print(r)


def cmd_weights(args):
    from .operators.weights import weights_for_hierarchy

    spark = _spark()
    with open(args.hierarchy) as f:
        hierarchy = f.read()
    df = weights_for_hierarchy(spark, hierarchy, decay=args.decay)
    for r in df.collect():
        print(f"{r['gold_type']}\t{r['sys_type']}\t{r['weight']:f}")


def cmd_select_alternatives(args):
    from .operators.select_alternatives import select_alternatives
    from .sources.tsv import annotations_to_tsv_lines, read_annotations_tsv

    spark = _spark()
    gold = read_annotations_tsv(spark, args.gold)
    sys_df = read_annotations_tsv(spark, args.system)
    fields = tuple(args.fields.split(","))
    out = select_alternatives(gold, sys_df, fields=fields)
    for r in annotations_to_tsv_lines(out).orderBy(
            "docid", "start", "end").collect():
        print(r["value"])


def cmd_prepare_conll_coref(args):
    from pyspark.sql import functions as F

    from .sources.conll import prepare_conll_coref
    from .sources.tsv import annotations_to_tsv_lines

    spark = _spark()
    df = prepare_conll_coref(spark, args.system, with_kb=args.with_kb,
                             cross_doc=args.cross_doc)
    # reference output is sorted(annotations) — a STABLE sort on
    # Annotation.__lt__ = (start, -end) (import_.py:73-75,
    # annotation.py:60-62) over annotations in input-document order,
    # so the tie-break is the document ordinal, not docid.  The final
    # "value" tie-break is for determinism only: a span appearing in
    # two clusters of ONE document ties on all three leading keys, and
    # Spark's orderBy is not stable across runs for fully-tied rows
    for r in annotations_to_tsv_lines(df, keep=["doc_idx"]).orderBy(
            F.col("start"), F.col("end").desc(), "doc_idx",
            "value").collect():
        print(r["value"])


def cmd_to_weak(args):
    from .operators.validate import to_weak
    from .sources.tsv import annotations_to_tsv_lines, read_annotations_tsv

    spark = _spark()
    df = to_weak(read_annotations_tsv(spark, args.system))
    for r in annotations_to_tsv_lines(df).orderBy(
            "docid", "start", "end").collect():
        print(r["value"])


def _read_results_files(paths):
    from .measures.contingency import read_tab_format

    out = {}
    for path in paths:
        with open(path) as f:
            out[path] = read_tab_format(f)
    return out


def _parse_label_map(arg):
    """--label-map: inline JSON or a path to a JSON file (reference
    _parse_label_map, summary.py:73-83)."""
    import os.path

    if arg is None:
        return None
    if os.path.exists(arg):
        with open(arg) as f:
            return json.load(f)
    return json.loads(arg)


def _short_names(systems):
    """Strip common path prefix/suffix (reference: _get_system_names,
    summary.py:86-92)."""
    import os.path

    prefix = os.path.commonprefix(systems)
    if os.path.sep in prefix:
        prefix = os.path.dirname(prefix) + os.path.sep
    suffix = os.path.commonprefix([s[::-1] for s in systems])
    return [s[len(prefix):len(s) - len(suffix)] for s in systems]


def cmd_rank_systems(args):
    import re as _re

    from .measures.catalog import parse_measures
    from .summary import rank_system_tuples

    group_re = _re.compile(args.group_re) if args.group_re else None
    measures = set(parse_measures(args.measures or "all",
                                  allow_unknown=True))
    metrics = args.metrics or ["fscore"]
    results = _read_results_files(args.systems)
    shorts = dict(zip(args.systems, _short_names(args.systems)))
    tuples = []
    for path, rdict in results.items():
        system = shorts[path] if args.short_names else path
        group = group_re.search(path).group() if group_re else None
        tuples.extend(
            (system, group, measure, metric, score)
            for measure, mres in rdict.items() if measure in measures
            for metric, score in mres.items() if metric in metrics)
    ranked = rank_system_tuples(
        tuples, group_re=group_re, limit=args.limit, max_rank=args.max,
        group_limit=args.group_limit, group_max=args.group_max)
    if group_re:
        print("measure\tmetric\trank\tgroup rank\tscore\tgroup\tsystem")
        for t, ranks in ranked:
            print(f"{t[2]}\t{t[3]}\t{ranks[0]}\t{ranks[1]}\t{t[4]}"
                  f"\t{t[1]}\t{t[0]}")
    else:
        print("measure\tmetric\trank\tscore\tsystem")
        for t, ranks in ranked:
            print(f"{t[2]}\t{t[3]}\t{ranks[0]}\t{t[4]}\t{t[0]}")


def cmd_compose_measures(args):
    """Append ratio rows to evaluation tab files (reference:
    ComposeMeasures, summary.py:843-906)."""
    import os.path

    for path in args.systems:
        with open(path) as f:
            text = f.read()
        result = _compose_rows(text, args.ratios or [])
        if args.out_fmt is None:
            out_path = path
        else:
            dirname = os.path.dirname(path)
            base = os.path.basename(path)
            ext = ""
            if "." in base:
                base, ext = os.path.splitext(base)
            out_path = args.out_fmt.format(dir=dirname, base=base,
                                           ext=ext)
        if out_path == "-":
            print(result)
        else:
            with open(out_path, "w") as f:
                print(result, file=f)


def _compose_rows(text, ratios):
    """Reference ComposeMeasures._process_system (summary.py:874-896):
    per-column float ratio rows named ``m1/m2``, 3-decimal, 'nan' for
    ~zero denominators; pre-existing ratio rows are replaced."""
    output_names = {f"{m1}/{m2}" for m1, m2 in ratios}
    out, lookup = [], {}
    for line in text.rstrip("\n").split("\n"):
        row = line.rstrip().split("\t")
        if row[-1] not in output_names:
            out.append(row)
        lookup[row[-1]] = row[:-1]
    for m1, m2 in ratios:
        row = []
        for v1, v2 in zip(lookup[m1], lookup[m2]):
            v1, v2 = float(v1), float(v2)
            row.append("nan" if abs(v2) < 1e-10
                       else "{:0.3f}".format(v1 / v2))
        row.append(f"{m1}/{m2}")
        out.append(row)
    return "\n".join("\t".join(row) for row in out)


def cmd_compare_measures(args):
    from .measures.catalog import parse_measures
    from .summary import compare_measures_full, compare_measures_tab

    if args.gold and getattr(args, "evaluation_files", False):
        raise SystemExit(
            "--gold and --evaluation-files are mutually exclusive "
            "(reference: CompareMeasures asserts exactly one mode)")
    if args.gold:
        from .measures import evaluate
        from .sources.tsv import read_annotations_tsv

        spark = _spark()
        measures = parse_measures(args.measures or "all")
        gold = read_annotations_tsv(spark, args.gold)
        per_system = {
            path: evaluate(read_annotations_tsv(spark, path), gold,
                           measures=measures)
            for path in args.systems
        }
    else:
        measures = parse_measures(args.measures or "all",
                                  allow_unknown=True)
        per_system = _read_results_files(args.systems)
    mnames = [str(m) for m in measures]
    scores = {m: [per_system[p][m]["fscore"] for p in args.systems]
              for m in mnames}
    if args.fmt == "plot":
        # reference plot_format (summary.py:734-806): three
        # correlation matrices + spread boxplot + violin, measures
        # ordered per --sort-by (eigen/mds orderings re-derived
        # deterministically; see summary.order_measures)
        from .figures import render_compare_measures_svgs
        from .summary import compare_measures_data

        data = compare_measures_data(
            scores, sort_by=args.sort_by,
            label_map=_parse_label_map(args.label_map))
        out_fmt = args.out_fmt or "compare_{name}.svg"
        for name, svg in render_compare_measures_svgs(data).items():
            path = out_fmt.format(name=name)
            with open(path, "w") as f:
                f.write(svg)
            print(path)
        return
    res = compare_measures_full(scores)
    if args.fmt == "json":
        print(json.dumps(
            {"quartiles": {m: list(q) for m, q in
                           res["quartiles"].items()},
             "correlations": {f"{a},{b}": v for (a, b), v in
                              res["correlations"].items()}},
            indent=4, sort_keys=True))
    else:
        print(compare_measures_tab(res, mnames))


def cmd_plot_systems(args):
    """Reference PlotSystems (summary.py:116-654).  The selection /
    grouping / sorting semantics live in summary.plot_systems_data;
    figures render only when matplotlib is importable (absent in this
    container), otherwise the plot data is emitted as JSON."""
    import re as _re

    from .measures.catalog import parse_measures
    from .summary import plot_systems_data

    measures = [str(m) for m in parse_measures(
        args.measures or "all", allow_unknown=True)]
    results = {}
    if args.input_type == "confidence":
        # cmd_confidence output: the reference tab format (default) or
        # its JSON equivalent — both carry
        # [{'measure', 'overall': {metric: score},
        #   'intervals': {metric: {pct: [lo, hi]}}}]
        from .stats.significance import read_confidence_tab_format

        for path in args.systems:
            with open(path) as f:
                head = f.read(1)
                f.seek(0)
                data = (json.load(f) if head == "["
                        else read_confidence_tab_format(f))
            # tab re-ingest keys percentiles as int, json.dumps as str
            def _iv(e, metric):
                ivs = e["intervals"][metric]
                got = ivs.get(args.confidence,
                              ivs.get(str(args.confidence)))
                if got is None:
                    raise SystemExit(
                        f"--confidence {args.confidence}: percentile "
                        f"not present in {path} (has: "
                        f"{sorted(map(str, ivs))})")
                return got

            wanted = args.metrics or (args.metric,)
            results[path] = {
                e["measure"]: {mt: {
                    "score": e["overall"][mt],
                    "lo": _iv(e, mt)[0],
                    "hi": _iv(e, mt)[1],
                } for mt in wanted}
                for e in data
            }
    else:
        results = _read_results_files(args.systems)
    figures = plot_systems_data(
        results,
        [m for m in measures
         if all(m in r for r in results.values())] or measures,
        metric=args.metric,
        group_re=_re.compile(args.group_re) if args.group_re else None,
        best_in_group=args.best_in_group,
        sort_by=args.sort_by,
        at_most=args.at_most,
        figures_by=args.figures_by,
        secondary=args.secondary,
        metrics=args.metrics,
        label_map=_parse_label_map(args.label_map),
        anon=args.anon,
    )
    try:
        import matplotlib  # noqa: F401
        has_mpl = True
    except ImportError:
        has_mpl = False
    if args.out_fmt and args.out_fmt.endswith(".svg"):
        # dependency-free built-in renderer (figures.py) — real image
        # artifacts even without matplotlib
        from .figures import render_figure_svg

        for fig in figures:
            path = args.out_fmt.format(name=fig["figure"])
            with open(path, "w") as f:
                f.write(render_figure_svg(
                    fig, lines=args.lines, cmap=args.cmap,
                    limits=args.limits, scale=args.figsize))
            print(path)
    elif args.out_fmt and has_mpl:
        import matplotlib.pyplot as plt

        for fig in figures:
            f, ax = plt.subplots()
            xs = [p["score"] for p in fig["points"]]
            ys = list(range(len(fig["points"])))
            ax.plot(xs, ys, "o")
            ax.set_yticks(ys)
            ax.set_yticklabels([p.get("system", p["measure"])
                                for p in fig["points"]])
            ax.set_title(fig["figure"])
            f.savefig(args.out_fmt.format(name=fig["figure"]))
            plt.close(f)
    else:
        print(json.dumps(figures, indent=2, sort_keys=True))


def cmd_interact(args):
    """Debug shell with the session and loaded annotations in scope
    (reference: interact.py — IPython embed over system/gold docs)."""
    from .sources.tsv import read_annotations_tsv

    spark = _spark()
    ns = {"spark": spark}
    if args.system:
        ns["system"] = read_annotations_tsv(spark, args.system)
    if args.gold:
        ns["gold"] = read_annotations_tsv(spark, args.gold)
    banner = ("neleval_spark interactive shell — in scope: "
              + ", ".join(sorted(ns)))
    try:
        import IPython

        IPython.embed(banner1=banner, user_ns=ns)
    except ImportError:
        import code

        code.interact(banner=banner, local=ns)


def cmd_run_pipeline(args):
    from .pipeline.corpus import kb_table
    from .pipeline.run import run_pipeline

    spark = _spark()
    if args.stream:
        from .pipeline.triples import read_triples
        from .streaming import stream_construct, stream_pages

        ckpt = args.checkpoint or f"{args.out}/_checkpoint"
        q = stream_construct(
            stream_pages(spark, args.corpus), kb_table(spark),
            args.out, ckpt, available_now=True)
        q.awaitTermination()
        n = read_triples(spark, args.out).count()
        print(json.dumps({"triples": n, "out": args.out,
                          "mode": "stream", "checkpoint": ckpt}))
        return
    pages = spark.read.parquet(args.corpus)
    res = run_pipeline(pages, kb_table(spark), out_dir=args.out,
                       n_buckets=args.buckets)
    n = res["triples"].count()
    print(json.dumps({"triples": n, "out": args.out}))


def cmd_track_eval(args):
    """Whole-track evaluation in ONE session (analogue of reference
    scripts/run_tac14_evaluation.sh + run_evaluate.sh +
    run_tac14_report.sh): prepare gold, prepare every system tab/xml
    pair in a directory, evaluate each against gold with the track
    measure set (incl. the custom ``:is_first:span`` measure strings
    the reference pipeline passes), and write the TAC-2014-format
    report.  The reference fans out with ``xargs -P`` because each
    process is single-threaded; here one Spark session parallelizes
    internally — no per-system process spawn."""
    import glob
    import os

    from .measures import evaluate
    from .measures.contingency import tab_format
    from .sources.tac import prepare_tac, read_excluded_spans_file
    from .sources.tsv import annotations_to_tsv_lines

    spark = _spark()
    os.makedirs(args.out, exist_ok=True)
    excluded = (read_excluded_spans_file(spark, args.excluded)
                if args.excluded else None)

    def write_tsv(df, path):
        with open(path, "w") as f:
            for r in annotations_to_tsv_lines(df).orderBy(
                    "docid", "start", "end").collect():
                f.write(r["value"] + "\n")

    # gold=True mirrors the reference's awk projection of the gold
    # tab to ($1,$2,$3,"1.0") before prepare (run_tac14_evaluation.sh:24)
    gold = prepare_tac(spark, args.gold_tab, args.gold_xml,
                       excluded=excluded, gold=True)
    write_tsv(gold, os.path.join(args.out, "gold.combined.tsv"))
    gold.persist()
    # run_evaluate.sh measure set: 'all' plus the custom
    # agg:filter:key strings
    measures = ["all", "mention_ceaf:is_first:span",
                "b_cubed:is_first:span", "muc:is_first:span"]
    report = []
    try:
        for tab in sorted(glob.glob(os.path.join(args.sysdir,
                                                 "*.tab"))):
            xml = tab[:-4] + ".xml"
            if not os.path.exists(xml):
                raise SystemExit(f"could not find xml for {tab}")
            name = os.path.basename(tab)[:-4]
            sys_df = prepare_tac(spark, tab, xml, excluded=excluded)
            write_tsv(sys_df,
                      os.path.join(args.out, f"{name}.combined.tsv"))
            res = evaluate(sys_df, gold, measures=measures)
            with open(os.path.join(args.out,
                                   f"{name}.evaluation"), "w") as f:
                f.write(tab_format(res) + "\n")
            report.append([name] + [
                f"{res[m][k]:.3f}"
                for m in ("strong_typed_mention_match",
                          "strong_all_match", "mention_ceaf")
                for k in ("precision", "recall", "fscore")])
    finally:
        gold.unpersist()
    # TAC-2014 report layout (run_tac14_report.sh): scores, then name
    with open(os.path.join(args.out, "00report.tab"), "w") as f:
        f.write("DiscP\tDiscR\tDiscF\tLinkP\tLinkR\tLinkF\t"
                "CEAFmP\tCEAFmR\tCEAFmF\tSystem\n")
        for row in report:
            f.write("\t".join(row[1:] + [row[0]]) + "\n")
    print(json.dumps({"systems": len(report), "out": args.out}))


# reference scripts/run_tac14_filtered.sh FILTERS array: NE-type,
# genre, and combined subsets, each a POSIX regex egrep'd over the
# combined.tsv LINES (docid leads the line, type ends it)
TAC14_FILTERS = [
    ("PER", r"PER$"), ("ORG", r"ORG$"), ("GPE", r"GPE$"),
    ("NW", r"^(AFP|APW|CNA|LTW|NYT|WPB|XIN)_ENG_"),
    ("WB", r"^eng-(NG|WL)-"), ("DF", r"^bolt-eng-DF-"),
    ("PER_NW", r"^(AFP|APW|CNA|LTW|NYT|WPB|XIN)_ENG_.*PER$"),
    ("PER_WB", r"^eng-(NG|WL)-.*PER$"),
    ("PER_DF", r"^bolt-eng-DF-.*PER$"),
    ("ORG_NW", r"^(AFP|APW|CNA|LTW|NYT|WPB|XIN)_ENG_.*ORG$"),
    ("ORG_WB", r"^eng-(NG|WL)-.*ORG$"),
    ("ORG_DF", r"^bolt-eng-DF-.*ORG$"),
    ("GPE_NW", r"^(AFP|APW|CNA|LTW|NYT|WPB|XIN)_ENG_.*GPE$"),
    ("GPE_WB", r"^eng-(NG|WL)-.*GPE$"),
    ("GPE_DF", r"^bolt-eng-DF-.*GPE$"),
]

# split-by-netype.sh: one subset per CoNLL03 entity type
NETYPE_FILTERS = [(t, t + r"$") for t in ("PER", "LOC", "ORG", "MISC")]


def cmd_filtered_track_eval(args):
    """Filtered-subset re-evaluation over a ``track-eval`` output
    directory (analogue of reference scripts/run_tac14_filtered.sh +
    run_filtrate.sh + run_tac15_filtered.sh/run_tac16_filtered.sh and
    the split-by-netype.sh type split): for each named filter
    (``NAME:::REGEX``, matched against the rendered TSV line exactly
    like the reference's ``egrep``), evaluate every system's filtered
    mentions against the filtered gold and write
    ``00filtered/<NAME>/{*.evaluation, 00report.tab}``.

    The reference filters by piping files through egrep into temp
    copies and re-spawning an evaluator per (system, subset) with
    ``xargs -P``; here the filter is ONE JVM ``rlike`` on the raw
    line frame (no temp files, no re-parse of unfiltered rows — the
    predicate sits directly on the text scan) and one Spark session
    evaluates every subset."""
    import glob
    import os

    from pyspark.sql import functions as F

    from .measures import evaluate
    from .measures.contingency import tab_format
    from .sources.tsv import parse_annotation_lines

    spark = _spark()
    filters = list(NETYPE_FILTERS) if args.netype_split else []
    for f in args.filter or []:
        name, _, regex = f.partition(":::")
        if not regex:
            raise SystemExit(f"bad --filter {f!r}: want NAME:::REGEX")
        filters.append((name, regex))
    if not filters:
        filters = list(TAC14_FILTERS)

    gold_path = os.path.join(args.outdir, "gold.combined.tsv")
    if not os.path.exists(gold_path):
        raise SystemExit(f"{gold_path} does not exist (run track-eval "
                         "first)")
    sys_paths = sorted(
        p for p in glob.glob(os.path.join(args.outdir,
                                          "*.combined.tsv"))
        if os.path.basename(p) != "gold.combined.tsv")
    if not sys_paths:
        raise SystemExit("no system *.combined.tsv found")
    measures = ["all", "mention_ceaf:is_first:span",
                "b_cubed:is_first:span", "muc:is_first:span"]

    gold_raw = spark.read.text(gold_path).persist()
    gold_raw.count()
    done = {}
    try:
        for name, regex in filters:
            gold = parse_annotation_lines(
                gold_raw.where(F.col("value").rlike(regex)))
            if gold.isEmpty():
                print(f"WARN ignoring filter {name!r} ({regex!r}): "
                      "no gold mentions")
                continue
            subdir = os.path.join(args.outdir, "00filtered", name)
            os.makedirs(subdir, exist_ok=True)
            report = []
            for sp_ in sys_paths:
                sysname = os.path.basename(sp_)[:-len(".combined.tsv")]
                sys_df = parse_annotation_lines(
                    spark.read.text(sp_)
                    .where(F.col("value").rlike(regex)))
                res = evaluate(sys_df, gold, measures=measures)
                with open(os.path.join(
                        subdir, f"{sysname}.evaluation"), "w") as f:
                    f.write(tab_format(res) + "\n")
                report.append([sysname] + [
                    f"{res[m][k]:.3f}"
                    for m in ("strong_typed_mention_match",
                              "strong_all_match", "mention_ceaf")
                    for k in ("precision", "recall", "fscore")])
            with open(os.path.join(subdir, "00report.tab"), "w") as f:
                f.write("DiscP\tDiscR\tDiscF\tLinkP\tLinkR\tLinkF\t"
                        "CEAFmP\tCEAFmR\tCEAFmF\tSystem\n")
                for row in report:
                    f.write("\t".join(row[1:] + [row[0]]) + "\n")
            done[name] = len(report)
    finally:
        gold_raw.unpersist()
    print(json.dumps({"subsets": done,
                      "out": os.path.join(args.outdir, "00filtered")}))


def cmd_compact_sink(args):
    """Compact the committed runs of a triple sink (e.g. many
    streaming batches of small files) into one ``compact-<ts>`` run —
    the operational analogue of Iceberg's rewrite_data_files; ends the
    sink's streaming lifecycle."""
    from pyspark.sql import functions as F

    from .pipeline.triples import compact_triples

    spark = _spark()
    manifest = compact_triples(spark, args.triples,
                               n_buckets=args.buckets)
    rows = manifest.agg(
        F.sum("n_rows").alias("n"),
        F.count(F.lit(1)).alias("parts")).collect()[0]
    print(json.dumps({"triples": rows["n"], "partitions": rows["parts"],
                      "out": args.triples}))


def cmd_curate(args):
    """Corpus-curation funnel over a parquet documents table
    (doc_id, text, lang, source, ...): C4-style heuristic line/doc
    cleaning → cross-document line dedup → duplicated-substring
    removal (ExactSubstr) → incremental MinHash near-dup against a
    persistent signature index → CCNet-style surprisal tail cut →
    DSIR importance resampling toward a target corpus → Mikolov
    frequent-word subsampling → per-domain cap → token-budget
    mixture sampling → temperature language rebalancing →
    epoch-weighted upsampling (copies, for strata whose budget
    EXCEEDS supply) → leakage-safe train/valid/test split (hashes
    the near-dup CLUSTER id; upsampled copies share their doc's
    cluster, so they can never straddle splits) → deterministic
    global shuffle into exactly-balanced shards.
    Every stage is optional (off unless its flag is given),
    distributed, and deterministic; the curated table is written to
    --out (one file per shard, in read order, when --shards is given)
    and a JSON stage funnel (doc counts after each stage) to
    stdout."""
    from pyspark.sql import functions as F

    from .functions.corpusops import (budget_sample, cap_per_domain,
                                      clean_lines, dedup_corpus_lines,
                                      dedup_substrings)

    spark = _spark()
    d = spark.read.parquet(args.docs)
    funnel = {"in": d.count()}

    if args.c4_clean:
        verdicts = clean_lines(d, min_words=args.c4_min_words)
        d = (d.drop("text")
             .join(verdicts.where("keep_doc")
                   .select("doc_id",
                           F.col("clean_text").alias("text")),
                   "doc_id"))
        funnel["after_clean"] = d.count()

    if args.line_dedup_min_docs:
        clean = dedup_corpus_lines(
            d, min_docs=args.line_dedup_min_docs)
        # docs whose every line was boilerplate are dropped
        d = (d.drop("text")
             .join(clean.where(F.col("n_kept") > 0)
                   .select("doc_id",
                           F.col("clean_text").alias("text")),
                   "doc_id"))
        funnel["after_line_dedup"] = d.count()

    if args.substring_dedup_k:
        clean = dedup_substrings(d, k=args.substring_dedup_k,
                                 min_docs=2)
        # docs whose every token sat in a duplicated window drop out
        d = (d.drop("text")
             .join(clean.where(F.col("n_removed") < F.col("n_tokens"))
                   .select("doc_id",
                           F.col("clean_text").alias("text")),
                   "doc_id"))
        funnel["after_substring_dedup"] = d.count()

    if args.minhash_index:
        from .functions.dedup_index import update_index

        verdict = update_index(d, args.minhash_index,
                               run_id=args.run_id)
        d = d.join(verdict.where("is_duplicate").select("doc_id"),
                   "doc_id", "left_anti")
        funnel["after_neardup"] = d.count()

    if args.surprisal_tail:
        from .functions.webquality import unigram_surprisal

        scores = unigram_surprisal(d)
        # the -1 sentinel (no [a-z0-9] tokens, e.g. CJK-only text)
        # carries no signal and passes through — the tail cut only
        # drops docs the model actually scored
        d = d.join(
            scores.where(F.col("millibits_per_token")
                         < args.surprisal_tail).select("doc_id"),
            "doc_id")
        funnel["after_surprisal"] = d.count()

    if args.dsir_target:
        from .functions.webquality import dsir_weights

        target = spark.read.parquet(args.dsir_target)
        picked = dsir_weights(d, target, keep=args.dsir_keep) \
            .select("doc_id")
        d = d.join(picked, "doc_id")
        funnel["after_dsir"] = d.count()

    if args.subsample_den:
        from .functions.textops import subsample_frequent

        sub = subsample_frequent(d, t_num=1,
                                 t_den=args.subsample_den)
        d = (d.drop("text")
             .join(sub.where(F.col("n_kept") > 0)
                   .select("doc_id",
                           F.col("subsampled_text").alias("text")),
                   "doc_id"))
        funnel["after_subsample"] = d.count()

    if args.cap_per_domain:
        d = cap_per_domain(d, cap=args.cap_per_domain,
                           domain_col=args.domain_col) \
            .drop("domain_rank")
        funnel["after_domain_cap"] = d.count()

    if args.budget:
        budgets = {}
        for b in args.budget:
            stratum, _, tokens = b.partition("=")
            budgets[stratum] = int(tokens)
        d = budget_sample(d, budgets, stratum_col=args.stratum_col) \
            .drop("sample_weight", "sample_hash", "threshold")
        funnel["after_budget"] = d.count()

    if args.temperature_budget:
        from .functions.corpusops import temperature_sample

        d = temperature_sample(
            d, total_budget=args.temperature_budget,
            alpha=args.temperature_alpha,
            stratum_col=args.stratum_col,
        ).drop("sample_weight", "sample_hash", "threshold",
               "stratum_budget")
        funnel["after_temperature"] = d.count()

    if args.upsample:
        from .functions.corpusops import upsample_to_budget

        budgets = {}
        for b in args.upsample:
            stratum, _, tokens = b.partition("=")
            budgets[stratum] = int(tokens)
        # keeps copy_idx: it distinguishes the copies downstream
        # (split keys on doc_id so copies stay together; the shard
        # shuffle keys on (doc_id, copy_idx) so copies spread apart)
        d = upsample_to_budget(d, budgets,
                               stratum_col=args.stratum_col) \
            .drop("sample_weight", "rate_ppm")
        funnel["after_upsample"] = d.count()

    if args.split:
        from .functions.corpusops import split_by_cluster

        shares = {}
        for s in args.split:
            name, _, ppm = s.partition("=")
            shares[name] = int(ppm)
        # private column name: the input docs may legitimately carry
        # their own `cluster` column (e.g. pre-joined dedup output) —
        # joining/overwriting under that name would be ambiguous or
        # destructive.
        if args.split_clusters:
            cl = spark.read.parquet(args.split_clusters) \
                .select("doc_id",
                        F.col("cluster").alias("_split_cluster"))
            dd = (d.join(cl, "doc_id", "left")
                  .withColumn("_split_cluster",
                              F.coalesce("_split_cluster",
                                         F.col("doc_id"))))
        else:
            # no cluster table: every doc its own cluster (plain
            # deterministic hash split)
            dd = d.withColumn("_split_cluster", F.col("doc_id"))
        d = split_by_cluster(dd, shares,
                             cluster_col="_split_cluster") \
            .drop("_split_cluster", "split_hash")
        funnel["split"] = {
            r["split"]: r["n"]
            for r in d.groupBy("split")
                      .agg(F.count(F.lit(1)).alias("n")).collect()}

    if args.shards:
        from .functions.corpusops import shuffle_shards, write_shards

        groups = ["split"] if args.split else []
        # upsampled copies share a doc_id; the shuffle permutation
        # tie-breaks on its id column, so give each copy its own id
        # (this also SPREADS a doc's copies through the epoch instead
        # of leaving them adjacent).
        id_col = "doc_id"
        if "copy_idx" in d.columns:
            d = d.withColumn(
                "_shard_id",
                F.concat_ws("#", F.col("doc_id").cast("string"),
                            F.col("copy_idx").cast("string")))
            id_col = "_shard_id"
        d = shuffle_shards(d, n_shards=args.shards,
                           group_cols=groups, id_col=id_col)
        if id_col == "_shard_id":
            d = d.drop("_shard_id")
        write_shards(d, args.out, n_shards=args.shards,
                     group_cols=groups)
    else:
        d.write.mode("overwrite").parquet(args.out)
    funnel["out"] = spark.read.parquet(args.out).count()
    print(json.dumps({"funnel": funnel, "out_path": args.out}))


def cmd_resolve_entities(args):
    """Fuzzy entity resolution over a parquet name table (id, name):
    prefix-filter q-gram blocking + levenshtein verify + transitive
    canonicalization (functions/er.py).  Writes the canonical mapping
    (id, canonical, cluster_size) — and, with --pairs, the verified
    match pairs with distances — under --out, plus a JSON summary.
    Deterministic: canonical = component-minimum id, so re-runs
    produce identical mappings on any partitioning."""
    from pyspark.sql import functions as F

    from .functions.er import er_match, er_resolve

    spark = _spark()
    names = spark.read.parquet(args.names).select(
        F.col(args.id_col).alias("id"),
        F.col(args.name_col).alias("name"))

    summary = {"out_path": args.out, "max_dist": args.max_dist}
    if args.pairs:
        pairs = er_match(names, max_dist=args.max_dist, q=args.q)
        pairs.write.mode("overwrite").parquet(f"{args.out}/pairs")
        summary["pairs"] = (
            spark.read.parquet(f"{args.out}/pairs").count())
    resolved = er_resolve(names, max_dist=args.max_dist, q=args.q)
    resolved.write.mode("overwrite").parquet(f"{args.out}/resolved")
    resolved = spark.read.parquet(f"{args.out}/resolved")
    agg = resolved.agg(
        F.count(F.lit(1)).alias("records"),
        F.countDistinct("canonical").alias("clusters"),
        F.max("cluster_size").alias("largest_cluster")).collect()[0]
    summary.update(records=agg["records"], clusters=agg["clusters"],
                   largest_cluster=agg["largest_cluster"])
    print(json.dumps(summary))


def cmd_fact_intervals(args):
    """Temporal-KG fact validity: a parquet of timestamped triple
    observations (subj, pred, obj, ts) → SCD-2 validity intervals per
    (subj, pred) run (pipeline/kg.fact_intervals), written as
    parquet plus a JSON summary.  --asof additionally filters to the
    facts valid at the given epoch-ms instant (open runs included)."""
    from pyspark.sql import functions as F

    from .pipeline.kg import fact_intervals

    spark = _spark()
    obs = spark.read.parquet(args.observations)
    out = fact_intervals(obs, ts=args.ts_col, tiebreak=args.tiebreak)
    if args.asof is not None:
        out = out.where(
            (F.col("valid_from_ms") <= args.asof)
            & ((F.col("valid_to_ms") > args.asof)
               | (F.col("valid_to_ms") == -1)))
    out.write.mode("overwrite").parquet(args.out)
    out = spark.read.parquet(args.out)
    agg = out.agg(
        F.count(F.lit(1)).alias("intervals"),
        F.count_distinct("subj", "pred").alias("facts"),
        F.sum((F.col("valid_to_ms") == -1).cast("long"))
         .alias("open_runs")).collect()[0]
    print(json.dumps({"out_path": args.out,
                      "intervals": agg["intervals"],
                      "facts": agg["facts"],
                      "open_runs": agg["open_runs"],
                      "asof": args.asof}))


def cmd_fuse_facts(args):
    """Knowledge fusion: a parquet of witness-level claims (source,
    subj, pred, obj) → one resolved object per (subj, pred) by
    iterated source-trust voting (pipeline/fusion.fuse_facts), written
    as parquet; --trust-out additionally writes the per-source
    reliability table.  Prints a JSON summary of keys resolved,
    conflicted keys, and the belief distribution's floor."""
    from pyspark.sql import functions as F

    from .pipeline.fusion import fuse_facts, source_trust

    spark = _spark()
    claims = spark.read.parquet(args.claims)
    facts = fuse_facts(claims, n_iter=args.iters, scale=args.scale)
    facts.write.mode("overwrite").parquet(args.out)
    facts = spark.read.parquet(args.out)
    if args.trust_out:
        source_trust(claims, n_iter=args.iters, scale=args.scale) \
            .write.mode("overwrite").parquet(args.trust_out)
    agg = facts.agg(
        F.count(F.lit(1)).alias("facts"),
        F.sum((F.col("n_objects") > 1).cast("long"))
         .alias("conflicted"),
        F.min("belief").alias("min_belief")).collect()[0]
    print(json.dumps({"out_path": args.out,
                      "facts": agg["facts"],
                      "conflicted": agg["conflicted"],
                      "min_belief": agg["min_belief"],
                      "iters": args.iters,
                      "scale": args.scale}))


def cmd_align_predicates(args):
    """Schema fusion: a parquet triple table (subj, pred, obj) →
    candidate predicate-alignment pairs by shared (subj, obj)
    distributions (pipeline/fusion.align_predicates), written as
    parquet plus a JSON summary."""
    from .pipeline.fusion import align_predicates

    spark = _spark()
    triples = spark.read.parquet(args.triples)
    out = align_predicates(triples, min_support=args.min_support,
                           min_overlap_pct=args.min_overlap_pct)
    out.write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    print(json.dumps({"out_path": args.out, "candidate_pairs": n,
                      "min_support": args.min_support,
                      "min_overlap_pct": args.min_overlap_pct}))


def cmd_score_triples(args):
    """Type-consistency triple plausibility (pipeline/plausibility,
    SDValidate): a parquet triple table (subj, pred, obj) plus a
    parquet (entity, type) table → every triple scored with
    plaus_ppm (max-over-types support·1e6 DIV pred_total, exact
    BIGINT; -1 for untyped endpoints), written as parquet.
    --signature learns the per-(pred, type) signature from a
    TRUSTED triple table instead of the scored one;
    --signature-out persists the learned signature."""
    from pyspark.sql import functions as F

    from .pipeline.plausibility import (
        UNTYPED_SCORE, predicate_type_signature, score_triples)

    spark = _spark()
    triples = spark.read.parquet(args.triples)
    types = spark.read.parquet(args.types)
    trusted = (spark.read.parquet(args.signature)
               if args.signature else triples)
    sig = predicate_type_signature(trusted, types, side=args.side)
    if args.signature_out:
        sig.write.mode("overwrite").parquet(args.signature_out)
        sig = spark.read.parquet(args.signature_out)
    scored = score_triples(triples, sig, types, side=args.side)
    scored.write.mode("overwrite").parquet(args.out)
    scored = spark.read.parquet(args.out)
    agg = scored.agg(
        F.count(F.lit(1)).alias("triples"),
        F.sum((F.col("plaus_ppm") == UNTYPED_SCORE).cast("long"))
         .alias("untyped"),
        F.sum(((F.col("plaus_ppm") >= 0)
               & (F.col("plaus_ppm") < args.flag_ppm)).cast("long"))
         .alias("flagged")).collect()[0]
    print(json.dumps({"out_path": args.out,
                      "triples": agg["triples"],
                      "untyped": agg["untyped"],
                      "flagged": agg["flagged"],
                      "flag_ppm": args.flag_ppm}))


def cmd_distant_label(args):
    """Distant-supervision relation labeling: a parquet mention table
    (url, sent_id, start, end, eid) plus a parquet KB triple table
    (subj, pred, obj) → labeled relation-extraction training pairs
    (pipeline/distant: within-sentence co-occurrence pairs, KB match,
    deterministic hash-sampled NA negatives), written as parquet.
    With --sentences (url, sent_id, text) and --patterns-out,
    additionally induces Snowball-style (pattern, pred) supports from
    the positive pairs' middle contexts."""
    from pyspark.sql import functions as F

    from .pipeline.distant import (
        NA_LABEL, cooccurring_pairs, distant_label, induce_patterns)

    if bool(args.sentences) != bool(args.patterns_out):
        raise SystemExit(
            "distant-label: --sentences and --patterns-out "
            "go together")
    spark = _spark()
    mentions = spark.read.parquet(args.mentions)
    kb = spark.read.parquet(args.kb)
    stats = {}
    pairs = cooccurring_pairs(mentions,
                              max_mentions=args.max_mentions,
                              stats=stats)
    labeled = distant_label(pairs, kb, na_keep_ppm=args.na_ppm)
    labeled.write.mode("overwrite").parquet(args.out)
    labeled = spark.read.parquet(args.out)
    agg = labeled.agg(
        F.count(F.lit(1)).alias("examples"),
        F.sum((F.col("pred") != NA_LABEL).cast("long"))
         .alias("positives")).collect()[0]
    summary = {"out_path": args.out,
               "examples": agg["examples"],
               "positives": agg["positives"],
               "na": agg["examples"] - agg["positives"], **stats}
    if args.patterns_out:
        sents = spark.read.parquet(args.sentences)
        pats = induce_patterns(labeled, sents,
                               min_support=args.min_support,
                               max_gap=args.max_gap)
        pats.write.mode("overwrite").parquet(args.patterns_out)
        summary["patterns_out"] = args.patterns_out
        summary["patterns"] = (
            spark.read.parquet(args.patterns_out).count())
    print(json.dumps(summary))


def cmd_chain_mentions(args):
    """Within-document anaphora chaining: a parquet mention table
    (url, start, end, surface) gains chain_surface/antecedent_start
    (pipeline/canonicalize.chain_mentions), written as parquet plus
    a JSON summary of how many mentions chained."""
    from pyspark.sql import functions as F

    from .pipeline.canonicalize import chain_mentions

    spark = _spark()
    mentions = spark.read.parquet(args.mentions)
    out = chain_mentions(mentions)
    out.write.mode("overwrite").parquet(args.out)
    out = spark.read.parquet(args.out)
    agg = out.agg(
        F.count(F.lit(1)).alias("mentions"),
        F.sum((F.col("antecedent_start") >= 0).cast("long"))
         .alias("chained")).collect()[0]
    print(json.dumps({"out_path": args.out,
                      "mentions": agg["mentions"],
                      "chained": agg["chained"]}))


def cmd_rerank_coherence(args):
    """Collective entity linking: a parquet candidate table
    (url, mention_id, eid, prior) + a parquet relatedness edge table
    (src, dst) → one winning candidate per mention after the
    document-coherence vote (pipeline/coherence.rerank_by_coherence),
    written as parquet plus a JSON summary.  The edge table is
    symmetrized here so callers can pass either directed or
    undirected pair lists."""
    from pyspark.sql import functions as F

    from .pipeline.coherence import rerank_by_coherence

    spark = _spark()
    cands = spark.read.parquet(args.candidates)
    e = spark.read.parquet(args.edges).select("src", "dst")
    e = e.unionByName(
        e.select(F.col("dst").alias("src"),
                 F.col("src").alias("dst"))).distinct()
    stats: dict = {}
    out = rerank_by_coherence(
        cands, e, alpha_ppm=args.alpha_ppm,
        max_mentions=args.max_mentions, stats=stats)
    out.write.mode("overwrite").parquet(args.out)
    out = spark.read.parquet(args.out)
    agg = out.agg(
        F.count(F.lit(1)).alias("mentions"),
        F.sum((F.col("votes") > 0).cast("long")).alias("voted")
    ).collect()[0]
    print(json.dumps({"out_path": args.out,
                      "mentions": agg["mentions"],
                      "voted": agg["voted"],
                      "passthrough_docs": stats["passthrough_docs"],
                      "alpha_ppm": args.alpha_ppm}))


def cmd_export_nt(args):
    """KG interop exit: a parquet triple table (subj, pred, obj) →
    W3C N-Triples text files (pipeline/kg.to_ntriples)."""
    from .pipeline.kg import to_ntriples

    spark = _spark()
    t = spark.read.parquet(args.triples)
    to_ntriples(t, subj_base=args.subj_base,
                pred_base=args.pred_base, obj_base=args.obj_base) \
        .write.mode("overwrite").text(args.out)
    n = spark.read.text(args.out).count()
    print(json.dumps({"out_path": args.out, "lines": n}))


def cmd_import_nt(args):
    """KG interop entrance: N-Triples text files → a parquet triple
    table (subj, pred, obj, kind, lang, datatype), base-stripped and
    percent-decoded (pipeline/kg.from_ntriples); malformed
    line count surfaced in the JSON summary."""
    from .pipeline.kg import from_ntriples

    spark = _spark()
    lines = spark.read.text(args.lines)
    stats: dict = {}
    out = from_ntriples(lines, col="value",
                        subj_base=args.subj_base,
                        pred_base=args.pred_base,
                        obj_base=args.obj_base, stats=stats)
    out.write.mode("overwrite").parquet(args.out)
    n = spark.read.parquet(args.out).count()
    print(json.dumps({"out_path": args.out, "triples": n,
                      "bad_lines": stats["bad_lines"]}))


def _nt_base_args(sp):
    sp.add_argument("--subj-base", dest="subj_base",
                    default="http://kg.local/e/")
    sp.add_argument("--pred-base", dest="pred_base",
                    default="http://kg.local/p/")
    sp.add_argument("--obj-base", dest="obj_base",
                    default="http://kg.local/e/")


def main(argv=None):
    p = argparse.ArgumentParser(prog="neleval_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    def add(name, fn, conf):
        sp = sub.add_parser(name)
        conf(sp)
        sp.set_defaults(fn=fn)

    def _eval(sp):
        sp.add_argument("system")
        sp.add_argument("-g", "--gold", required=True)
        sp.add_argument("-m", "--measure", dest="measures",
                        action="append")
        sp.add_argument("-b", "--group-by", dest="group_by",
                        action="append")
        sp.add_argument("--overall", action="store_true")
        sp.add_argument("--type-weights",
                        help="TSV of gold, sys, weight")
        sp.add_argument("-f", "--fmt", default="tab",
                        choices=["tab", "json"])

    add("evaluate", cmd_evaluate, _eval)
    add("prepare-tac", cmd_prepare_tac, lambda sp: (
        sp.add_argument("system"),
        sp.add_argument("-q", "--queries", required=True),
        sp.add_argument("-x", "--excluded-spans", dest="excluded"),
        sp.add_argument("-m", "--mapping")))
    add("prepare-tac15", cmd_prepare_tac15, lambda sp: (
        sp.add_argument("system"),
        sp.add_argument("-x", "--excluded-spans", dest="excluded"),
        sp.add_argument("-m", "--mapping")))
    add("prepare-brat", cmd_prepare_brat, lambda sp: (
        sp.add_argument("dir"),
        sp.add_argument("-m", "--mapping")))
    add("prepare-conll-coref", cmd_prepare_conll_coref, lambda sp: (
        sp.add_argument("system"),
        sp.add_argument("--with-kb", action="store_true"),
        sp.add_argument("--cross-doc", action="store_true")))
    add("to-weak", cmd_to_weak,
        lambda sp: sp.add_argument("system"))
    add("rank-systems", cmd_rank_systems, lambda sp: (
        sp.add_argument("systems", nargs="+"),
        sp.add_argument("-m", "--measure", dest="measures",
                        action="append"),
        sp.add_argument("--metric", dest="metrics", action="append",
                        choices=["precision", "recall", "fscore"]),
        sp.add_argument("--group-re"),
        sp.add_argument("--short-names", action="store_true"),
        sp.add_argument("--group-limit", type=int),
        sp.add_argument("--group-max", type=int),
        sp.add_argument("--limit", type=int),
        sp.add_argument("--max", type=int)))
    add("compose-measures", cmd_compose_measures, lambda sp: (
        sp.add_argument("systems", nargs="*"),
        sp.add_argument("-o", "--out-fmt",
                        help="output path format, e.g. "
                             "{dir}/{base}.ratios{ext}; '-' = stdout"),
        sp.add_argument("-r", "--ratio", dest="ratios", nargs=2,
                        action="append")))
    add("compare-measures", cmd_compare_measures, lambda sp: (
        sp.add_argument("systems", nargs="+"),
        sp.add_argument("-g", "--gold"),
        sp.add_argument("-e", "--evaluation-files",
                        action="store_true",
                        help="systems are evaluate outputs, not "
                             "annotations (default when no --gold)"),
        sp.add_argument("-m", "--measure", dest="measures",
                        action="append"),
        sp.add_argument("-f", "--fmt", default="tab",
                        choices=["tab", "json", "plot"]),
        sp.add_argument("-s", "--sort-by", default="none",
                        choices=["none", "name", "eigen", "mds"],
                        help="measure order in plot output "
                             "(eigen: PC-1 loadings; mds: 1-d "
                             "classical MDS)"),
        sp.add_argument("--label-map",
                        help="JSON (or file) display renames"),
        sp.add_argument("-o", "--out-fmt",
                        help="plot output path format {name}; "
                             "default compare_{name}.svg")))
    add("analyze", cmd_analyze, lambda sp: (
        sp.add_argument("system"),
        sp.add_argument("-g", "--gold", required=True),
        sp.add_argument("-s", "--summary", action="store_true"),
        sp.add_argument("-u", "--unique", action="store_true")))
    add("significance", cmd_significance, lambda sp: (
        sp.add_argument("systems", nargs="+", metavar="FILE"),
        sp.add_argument("-g", "--gold", required=True),
        sp.add_argument("-n", "--trials", type=int, default=2500),
        sp.add_argument("-f", "--fmt", default="tab",
                        choices=["tab", "json", "none"]),
        sp.add_argument("-m", "--measure", dest="measures",
                        action="append"),
        sp.add_argument("--metrics",
                        default="precision recall fscore".split(),
                        type=lambda x: x.split(","))))
    add("confidence", cmd_confidence, lambda sp: (
        sp.add_argument("system", metavar="FILE"),
        sp.add_argument("-g", "--gold", required=True),
        sp.add_argument("-n", "--trials", type=int, default=2500),
        sp.add_argument("-p", "--percentiles", default=(90, 95, 99),
                        type=lambda x: [int(v) for v in x.split(",")]),
        sp.add_argument("--method", default="poisson",
                        choices=["poisson", "multinomial"]),
        sp.add_argument("-f", "--fmt", default="tab",
                        choices=["tab", "json", "none"]),
        sp.add_argument("-m", "--measure", dest="measures",
                        action="append"),
        sp.add_argument("--metrics",
                        default="precision recall fscore".split(),
                        type=lambda x: x.split(","))))
    add("list-measures", cmd_list_measures, lambda sp: None)
    add("validate-spans", cmd_validate_spans, lambda sp: (
        sp.add_argument("system"),
        sp.add_argument("--duplicate", default="error"),
        sp.add_argument("--crossing", default="warn"),
        sp.add_argument("--nested", default="ignore")))
    add("weights-for-hierarchy", cmd_weights, lambda sp: (
        sp.add_argument("hierarchy"),
        sp.add_argument("-d", "--decay", type=float, default=0.5)))
    add("select-alternatives", cmd_select_alternatives, lambda sp: (
        sp.add_argument("system"),
        sp.add_argument("-g", "--gold", required=True),
        sp.add_argument("-f", "--fields", default="eid")))
    add("plot-systems", cmd_plot_systems, lambda sp: (
        sp.add_argument("systems", nargs="+"),
        sp.add_argument("--input-type", default="evaluate",
                        choices=["evaluate", "confidence"]),
        sp.add_argument("-m", "--measure", dest="measures",
                        action="append"),
        sp.add_argument("--metric", default="fscore",
                        choices=["precision", "recall", "fscore"]),
        sp.add_argument("--pr", dest="metrics", action="store_const",
                        const=("precision", "recall"), default=None,
                        help="plot precision and recall"),
        sp.add_argument("--prf", dest="metrics",
                        action="store_const",
                        const=("precision", "recall", "fscore")),
        sp.add_argument("--recall-only", dest="metrics",
                        action="store_const", const=("recall",)),
        sp.add_argument("--confidence", type=int, default=95),
        sp.add_argument("--figures-by", default="measure",
                        choices=["measure", "system", "single"]),
        sp.add_argument("--secondary", default="markers",
                        choices=["markers", "rows", "columns",
                                 "heatmap"]),
        sp.add_argument("--group-re"),
        sp.add_argument("--best-in-group", action="store_true"),
        sp.add_argument("--sort-by", default="none",
                        choices=["none", "name", "score"]),
        sp.add_argument("--at-most", type=int),
        sp.add_argument("--label-map",
                        help="JSON (or file) display renames"),
        sp.add_argument("--anon", action="store_true",
                        help="hide system names in figures"),
        sp.add_argument("--lines", action="store_true",
                        help="join 1-d plot dots with a line"),
        sp.add_argument("--cmap", default="blues",
                        choices=["blues", "rdbu"]),
        sp.add_argument("--limits", default="0,1",
                        type=lambda s: tuple(
                            float(v) for v in s.split(",")),
                        help="score-axis limits lo,hi"),
        sp.add_argument("--figsize", default=1.0, type=float,
                        help="canvas scale factor (reference "
                             "--figsize inches -> here a multiplier "
                             "on the base SVG size)"),
        sp.add_argument("-o", "--out-fmt",
                        help="figure path format {name}; requires "
                             "matplotlib, else JSON to stdout")))
    add("interact", cmd_interact, lambda sp: (
        sp.add_argument("system", nargs="?"),
        sp.add_argument("-g", "--gold")))
    add("run-pipeline", cmd_run_pipeline, lambda sp: (
        sp.add_argument("corpus"),
        sp.add_argument("-o", "--out", required=True),
        sp.add_argument("--buckets", type=int, default=None,
                        help="triple-sink buckets (part_id values); "
                             "default: derived from the mention "
                             "table's size, ~128 MB per bucket, at "
                             "most 64"),
        sp.add_argument("--stream", action="store_true",
                        help="incremental ingest: drain new corpus "
                             "files via Structured Streaming "
                             "(availableNow), then stop"),
        sp.add_argument("--checkpoint",
                        help="stream checkpoint dir (default "
                             "<out>/_checkpoint; pair 1:1 with out)")))
    add("compact-sink", cmd_compact_sink, lambda sp: (
        sp.add_argument("triples",
                        help="triple sink dir to compact into one run"),
        sp.add_argument("--buckets", type=int, default=None,
                        help="buckets of the compacted run; default: "
                             "derived from the sink's size, ~128 MB "
                             "per bucket, at most 64")))
    add("curate", cmd_curate, lambda sp: (
        sp.add_argument("docs",
                        help="parquet documents table "
                             "(doc_id, text, lang, source, ...)"),
        sp.add_argument("-o", "--out", required=True),
        sp.add_argument("--c4-clean", action="store_true",
                        dest="c4_clean",
                        help="C4 heuristic cleaning: keep lines with "
                             "terminal punctuation and enough words; "
                             "drop lorem-ipsum/brace/thin docs"),
        sp.add_argument("--c4-min-words", type=int, default=5,
                        dest="c4_min_words",
                        help="minimum words per kept line"),
        sp.add_argument("--line-dedup-min-docs", type=int, default=0,
                        help="remove lines appearing in >= N docs "
                             "(0 = stage off)"),
        sp.add_argument("--substring-dedup-k", type=int, default=0,
                        dest="substring_dedup_k",
                        help="remove every k-token window occurring "
                             "in >= 2 docs (0 = stage off)"),
        sp.add_argument("--minhash-index",
                        help="persistent signature index dir; "
                             "near-dups vs it are dropped and "
                             "canonical signatures appended"),
        sp.add_argument("--run-id",
                        help="idempotence key for the index append"),
        sp.add_argument("--dsir-target",
                        dest="dsir_target",
                        help="parquet table of target-domain docs; "
                             "keeps the --dsir-keep most target-like "
                             "docs by hashed-n-gram importance weight"),
        sp.add_argument("--dsir-keep", type=int, default=1000,
                        dest="dsir_keep"),
        sp.add_argument("--surprisal-tail", type=int, default=0,
                        dest="surprisal_tail",
                        help="drop docs whose unigram surprisal is "
                             ">= N millibits/token (CCNet tail cut; "
                             "0 = stage off)"),
        sp.add_argument("--subsample-den", type=int, default=0,
                        dest="subsample_den",
                        help="Mikolov frequent-word thinning with "
                             "t = 1/N (word2vec prep; docs emptied "
                             "by thinning drop; 0 = stage off)"),
        sp.add_argument("--cap-per-domain", type=int, default=0,
                        dest="cap_per_domain",
                        help="keep at most N docs per domain "
                             "(0 = stage off)"),
        sp.add_argument("--domain-col", default="source"),
        sp.add_argument("--budget", action="append",
                        metavar="STRATUM=TOKENS",
                        help="token budget per stratum (repeat); "
                             "absent strata are dropped"),
        sp.add_argument("--temperature-budget", type=int, default=0,
                        dest="temperature_budget",
                        help="TOTAL token budget split across strata "
                             "at p ∝ n^alpha (XLM/mC4 rebalance; "
                             "0 = stage off)"),
        sp.add_argument("--temperature-alpha", type=float, default=0.5,
                        dest="temperature_alpha",
                        help="rebalance exponent; exact lattice "
                             "0 / 0.5 / 1 only"),
        sp.add_argument("--upsample", action="append",
                        metavar="STRATUM=TOKENS",
                        help="epoch-weighted token budget per stratum "
                             "(repeat): REPEATS docs when the budget "
                             "exceeds supply (integer copies + hash-"
                             "coin fractional epoch); absent strata "
                             "are dropped"),
        sp.add_argument("--stratum-col", default="lang"),
        sp.add_argument("--split", action="append",
                        metavar="NAME=PPM",
                        help="leakage-safe split shares in ppm "
                             "(repeat; must sum to 1000000); "
                             "assignment hashes the near-dup "
                             "cluster id from --split-clusters"),
        sp.add_argument("--split-clusters", dest="split_clusters",
                        help="parquet (doc_id, cluster) table, e.g. "
                             "dedup_cluster output; absent docs / "
                             "absent table fall back to doc_id "
                             "(plain hash split)"),
        sp.add_argument("--shards", type=int, default=0,
                        help="deterministic global shuffle into N "
                             "exactly-balanced shards per split, one "
                             "parquet file per shard in read order "
                             "(0 = stage off)")))
    add("resolve-entities", cmd_resolve_entities, lambda sp: (
        sp.add_argument("names",
                        help="parquet name table (id, name)"),
        sp.add_argument("-o", "--out", required=True),
        sp.add_argument("--id-col", default="id", dest="id_col"),
        sp.add_argument("--name-col", default="name",
                        dest="name_col"),
        sp.add_argument("--max-dist", type=int, default=2,
                        dest="max_dist",
                        help="edit-distance threshold on the "
                             "token-sorted normalized name"),
        sp.add_argument("--q", type=int, default=3,
                        help="q-gram size for blocking"),
        sp.add_argument("--pairs", action="store_true",
                        help="also write verified match pairs "
                             "with distances")))
    add("fact-intervals", cmd_fact_intervals, lambda sp: (
        sp.add_argument("observations",
                        help="parquet of timestamped triple "
                             "observations (subj, pred, obj, ts)"),
        sp.add_argument("-o", "--out", required=True),
        sp.add_argument("--ts-col", default="warc_ts",
                        dest="ts_col"),
        sp.add_argument("--tiebreak",
                        help="column ordering equal-timestamp "
                             "observations deterministically"),
        sp.add_argument("--asof", type=int,
                        help="epoch-ms instant: keep only facts "
                             "valid then (open runs included)")))
    add("fuse-facts", cmd_fuse_facts, lambda sp: (
        sp.add_argument("claims",
                        help="parquet of witness-level claims "
                             "(source, subj, pred, obj)"),
        sp.add_argument("-o", "--out", required=True),
        sp.add_argument("--trust-out",
                        help="also write the per-source trust table "
                             "here"),
        sp.add_argument("--iters", type=int, default=2),
        sp.add_argument("--scale", type=int, default=1_000_000)))
    add("align-predicates", cmd_align_predicates, lambda sp: (
        sp.add_argument("triples",
                        help="parquet triple table (subj, pred, obj)"),
        sp.add_argument("-o", "--out", required=True),
        sp.add_argument("--min-support", type=int, default=2,
                        dest="min_support"),
        sp.add_argument("--min-overlap-pct", type=int, default=50,
                        dest="min_overlap_pct")))
    add("score-triples", cmd_score_triples, lambda sp: (
        sp.add_argument("triples",
                        help="parquet triple table (subj, pred, obj)"),
        sp.add_argument("--types", required=True,
                        help="parquet (entity, type) table"),
        sp.add_argument("-o", "--out", required=True),
        sp.add_argument("--side", default="obj",
                        choices=("obj", "subj")),
        sp.add_argument("--signature",
                        help="trusted parquet triple table to learn "
                             "the signature from (default: the "
                             "scored table itself)"),
        sp.add_argument("--signature-out", dest="signature_out"),
        sp.add_argument("--flag-ppm", type=int, default=10_000,
                        dest="flag_ppm",
                        help="report count of typed triples scoring "
                             "under this threshold")))
    add("distant-label", cmd_distant_label, lambda sp: (
        sp.add_argument("mentions",
                        help="parquet mention table "
                             "(url, sent_id, start, end, eid)"),
        sp.add_argument("--kb", required=True,
                        help="parquet KB triple table "
                             "(subj, pred, obj)"),
        sp.add_argument("-o", "--out", required=True),
        sp.add_argument("--max-mentions", type=int, default=64,
                        dest="max_mentions"),
        sp.add_argument("--na-ppm", type=int, default=50_000,
                        dest="na_ppm",
                        help="NA negatives kept per million "
                             "unmatched pairs"),
        sp.add_argument("--sentences",
                        help="parquet sentence table "
                             "(url, sent_id, text) for pattern "
                             "induction"),
        sp.add_argument("--patterns-out", dest="patterns_out"),
        sp.add_argument("--min-support", type=int, default=2,
                        dest="min_support"),
        sp.add_argument("--max-gap", type=int, default=80,
                        dest="max_gap")))
    add("chain-mentions", cmd_chain_mentions, lambda sp: (
        sp.add_argument("mentions",
                        help="parquet mention table "
                             "(url, start, end, surface, ...)"),
        sp.add_argument("-o", "--out", required=True)))
    add("rerank-coherence", cmd_rerank_coherence, lambda sp: (
        sp.add_argument("candidates",
                        help="parquet candidate table "
                             "(url, mention_id, eid, prior)"),
        sp.add_argument("--edges", required=True,
                        help="parquet entity-relatedness pairs "
                             "(src, dst); symmetrized on read"),
        sp.add_argument("-o", "--out", required=True),
        sp.add_argument("--alpha-ppm", type=int, default=500_000,
                        dest="alpha_ppm",
                        help="prior weight in parts per million"),
        sp.add_argument("--max-mentions", type=int, default=256,
                        dest="max_mentions",
                        help="docs with more mentions pass through "
                             "unreranked")))
    add("export-nt", cmd_export_nt, lambda sp: (
        sp.add_argument("triples",
                        help="parquet triple table (subj, pred, obj)"),
        sp.add_argument("-o", "--out", required=True),
        _nt_base_args(sp)))
    add("import-nt", cmd_import_nt, lambda sp: (
        sp.add_argument("lines",
                        help="N-Triples text file(s)/directory"),
        sp.add_argument("-o", "--out", required=True),
        _nt_base_args(sp)))
    add("track-eval", cmd_track_eval, lambda sp: (
        sp.add_argument("gold_xml"),
        sp.add_argument("gold_tab"),
        sp.add_argument("sysdir"),
        sp.add_argument("-o", "--out", required=True),
        sp.add_argument("-x", "--excluded")))
    add("filtered-track-eval", cmd_filtered_track_eval, lambda sp: (
        sp.add_argument("outdir",
                        help="track-eval output dir of *.combined.tsv"),
        sp.add_argument("--filter", action="append",
                        help="NAME:::REGEX over the TSV line "
                             "(repeatable; default: the TAC14 "
                             "type/genre subset list)"),
        sp.add_argument("--netype-split", action="store_true",
                        dest="netype_split",
                        help="PER/LOC/ORG/MISC type split "
                             "(split-by-netype.sh analogue)")))

    args = p.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    main()
