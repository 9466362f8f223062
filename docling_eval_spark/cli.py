"""CLI mirroring the reference's command surface (docling_eval/cli/main.py
:97-102 — create-gt, create-eval, evaluate, visualize, plus the
consolidation wrapper aggregations/multi_evalutor.py + consolidator.py):

    python -m docling_eval_spark.cli create-gt    --from-documents DIR --output PATH
    python -m docling_eval_spark.cli create-eval  --input PATH --output PATH [--resume]
    python -m docling_eval_spark.cli evaluate     --input PATH --modality M --output-dir DIR
    python -m docling_eval_spark.cli score-files  --pred-dir DIR --from-documents DIR --output-dir DIR
    python -m docling_eval_spark.cli visualize    --evaluation FILE.json --output-dir DIR
    python -m docling_eval_spark.cli consolidate  --from-documents DIR --output FILE.csv
    python -m docling_eval_spark.cli curate       --input PATH --output PATH [--summary FILE.json]

Differences from the reference, by design:
  - datasets are Spark tables (parquet here, Iceberg-shaped), not HF
    dataset shards; `create-gt` synthesizes the deterministic pages corpus
    (a real deployment points `create-eval --input` at the crawl table);
  - every command is a DataFrame job; only `visualize` collects to the
    driver (reference cli/main.py:534-771 draws matplotlib histograms —
    no matplotlib in this environment, so the txt table of
    evaluators/stats.py:53-74 is the output, with an import-gated PNG
    path when matplotlib exists).
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def _spark(cpus: int | None = None):
    from .session import get_spark

    master = f"local[{cpus}]" if cpus else None
    return get_spark("docling-eval-spark-cli", master=master)


def cmd_create_gt(args) -> None:
    from .corpus.generator import pages_from_documents
    from .sources.tables import write_pages_table

    spark = _spark(args.cpus)
    pages = pages_from_documents(spark, args.from_documents,
                                 n_partitions=args.partitions)
    write_pages_table(pages, args.output, mode="overwrite")
    n = spark.read.parquet(args.output).count()
    print(f"create-gt: wrote {n} pages to {args.output}")


def cmd_create_eval(args) -> None:
    from .operators.lineage import append_partition_counts, partition_counter
    from .operators.resume import CommittedOutput
    from .plans.pipeline import extract_and_score

    spark = _spark(args.cpus)
    output = CommittedOutput(spark, args.output)
    pages = spark.read.parquet(args.input)
    if args.resume:
        pages = output.skip_committed(pages, "url")
    # one pass, as in jobs/extract_job.py: the stage counts the lineage
    # rows, the write counts this run's rows
    counts = partition_counter(spark) if args.lineage else None
    output.append(extract_and_score(pages, n_partitions=args.partitions,
                                    counts=counts))
    if args.lineage:
        append_partition_counts(spark, counts.value, args.run_id or "cli",
                                args.lineage)
    print(f"create-eval: {output.total()} scored rows committed to {args.output}")


from .plans.multi_eval import MODALITIES


def cmd_evaluate(args) -> None:
    from .plans.multi_eval import evaluate_modality
    from .plans.report import write_evaluation_json

    spark = _spark(args.cpus)
    m = args.modality
    roll = evaluate_modality(spark, m, from_documents=args.from_documents,
                             scored_input=args.input)
    os.makedirs(args.output_dir, exist_ok=True)
    out = os.path.join(args.output_dir, f"evaluation_{args.benchmark}_{m}.json")
    write_evaluation_json(roll, out, benchmark=args.benchmark, modality=m)
    print(f"evaluate: {m} -> {out}")


def cmd_multi_evaluate(args) -> None:
    """Benchmark x experiment x modality grid with skip-if-exists dataset
    builds and cached-evaluation reuse (reference multi_evalutor.py
    :142-282), feeding the consolidator's directory layout."""
    from .plans.multi_eval import multi_evaluate

    spark = _spark(args.cpus)
    benchmarks = {}
    for spec in args.benchmarks.split(","):
        name, _, docs = spec.partition("=")
        benchmarks[name] = docs
    result = multi_evaluate(
        spark, args.root_dir, benchmarks,
        experiments=args.experiments.split(","),
        modalities=tuple(args.modalities.split(",")),
        partitions=args.partitions)
    print(f"multi-evaluate: {json.dumps(result['stats'])}")


def cmd_score_files(args) -> None:
    """Score a directory of <doc_id>.<ext> prediction files against the GT
    documents table — the reference's adapter path (evaluators/adapters.py
    :12-33 + file_provider.py:107-145) as one distributed job."""
    from pyspark.sql import functions as F

    from .plans.report import write_evaluation_json
    from .sources.prediction_files import score_prediction_files
    from .sources.tables import read_documents

    spark = _spark(args.cpus)
    gt = read_documents(spark, args.from_documents, ["doc_id", "text"])
    scored = score_prediction_files(spark, gt, args.pred_dir,
                                    extension=args.format)
    roll = scored.agg(
        F.count("*").alias("total"),
        F.sum(F.when(~F.col("has_prediction"), 1).otherwise(0))
        .alias("missing_prediction"),
        F.round(F.avg("bleu"), 6).alias("mean_bleu"),
        F.round(F.avg("f1_score"), 6).alias("mean_f1"),
        F.round(F.avg("edit_distance"), 6).alias("mean_edit_distance"),
    ).collect()[0].asDict()
    os.makedirs(args.output_dir, exist_ok=True)
    out = os.path.join(args.output_dir,
                       f"evaluation_{args.benchmark}_files.json")
    write_evaluation_json(roll, out, benchmark=args.benchmark,
                          modality="prediction_files")
    print(f"score-files: {roll['total']} docs "
          f"({roll['missing_prediction']} missing) -> {out}")


def cmd_visualize(args) -> None:
    """Txt stats table (+ PNG histogram when matplotlib exists) from an
    evaluation JSON (reference cli/main.py:575-768, stats.py:53-74)."""
    with open(args.evaluation) as f:
        doc = json.load(f)
    os.makedirs(args.output_dir, exist_ok=True)
    base = os.path.splitext(os.path.basename(args.evaluation))[0]
    lines = [f"{'metric':<28} value", "-" * 40]
    numeric = {k: v for k, v in doc["evaluation"].items()
               if isinstance(v, (int, float))}
    for k, v in sorted(numeric.items()):
        lines.append(f"{k:<28} {v}")
    txt = os.path.join(args.output_dir, base + ".txt")
    with open(txt, "w") as f:
        f.write("\n".join(lines) + "\n")
    outs = [txt]
    try:  # pragma: no cover - matplotlib absent in this environment
        import matplotlib

        matplotlib.use("Agg")
        import matplotlib.pyplot as plt

        fig, ax = plt.subplots()
        ax.bar(range(len(numeric)), list(numeric.values()))
        ax.set_xticks(range(len(numeric)), list(numeric), rotation=90)
        png = os.path.join(args.output_dir, base + ".png")
        fig.savefig(png, bbox_inches="tight")
        plt.close(fig)
        outs.append(png)
    except ImportError:
        pass
    print("visualize: " + ", ".join(outs))


def cmd_consolidate(args) -> None:
    spark = _spark(args.cpus)
    if args.evaluations:
        # 3-D benchmark x experiment x modality matrix from evaluation
        # JSON sidecars (reference consolidator.py:54-141)
        from .plans.consolidation import (
            consolidation_matrices,
            load_evaluation_dir,
            write_consolidation,
        )

        rows = load_evaluation_dir(spark, args.evaluations)
        matrices = consolidation_matrices(rows)
        path = write_consolidation(matrices, args.output)
        print(f"consolidate: {len(matrices)} modality subtables -> {path}")
        return
    if not args.from_documents:
        raise SystemExit(
            "consolidate: provide --evaluations (3-D matrix) or "
            "--from-documents (legacy pivot)")
    from .plans.report import consolidation_pivot, docs_table

    piv = consolidation_pivot(docs_table(spark, args.from_documents))
    rows = piv.collect()
    cols = piv.columns
    with open(args.output, "w") as f:
        f.write(",".join(cols) + "\n")
        for r in rows:
            f.write(",".join(str(r[c]) for c in cols) + "\n")
    print(f"consolidate: {len(rows)} rows -> {args.output}")


def cmd_curate(args) -> None:
    """Web-corpus curation pass over an extracted table:
    [hash-sample] -> [url dedup] -> [robots] -> [normalize] -> [lang-id]
    -> webtext.quality_chain (Gopher -> C4 -> PII, the chain the
    streaming curation ingest runs too) -> corpus-level line dedup ->
    [benchmark decontamination], writing the curated table plus a JSON
    drop-accounting summary. Cheapest-first: the sample evaluates at the
    scan, the per-row gates shrink the corpus BEFORE the shuffle-bearing
    passes, and the decontamination probe runs last over survivors
    only — each stage pays only for what the previous stages kept."""
    from pyspark.sql import functions as F

    from .operators.webtext import (
        corpus_line_dedup,
        hash_sample,
        normalize_text,
        quality_chain,
    )

    spark = _spark(args.cpus)
    docs = spark.read.parquet(args.input)
    key, text = args.key, args.text_col
    if args.sample is not None:
        docs = hash_sample(docs, key=key, rate=args.sample,
                           salt=args.sample_salt)
    n_input = docs.count()

    kept = docs
    n_url_dropped = 0
    if args.url_dedup:
        # RefinedWeb's FIRST stage: exact dedup on the canonical URL —
        # cheapest possible gate (native expressions + one hash groupBy
        # on short strings), shrinking everything downstream
        from .operators.webtext import url_dedup

        deduped = url_dedup(kept, key=key, url_col=args.url_col)
        kept = deduped.where("url_keep_first").drop(
            "url_norm", "n_same_url", "url_keep_first")
        n_url_dropped = n_input - kept.count()
    n_robots_dropped = 0
    if args.robots_txt:
        # REP compliance gate (RFC 9309): drop pages whose domain's
        # robots.txt disallows the agent — right after URL dedup so the
        # per-domain rule probe pays only for unique urls, before any
        # text-heavy stage touches disallowed pages at all
        from .operators.robots import compile_robots, with_robots_verdict

        robots = spark.read.parquet(args.robots_txt)
        rules = compile_robots(robots, agent=args.robots_agent)
        before = kept.count()
        kept = (with_robots_verdict(kept, rules, url_col=args.url_col)
                .where("robots_txt_allowed")
                .drop("robots_txt_allowed", "domain"))
        n_robots_dropped = before - kept.count()
    if args.normalize:
        # replace the text column; keep the changed flag through the
        # gates so the PII aggregation pass can count it for free
        kept = (normalize_text(kept, text_col=text, keep_newlines=True)
                .drop(text)
                .withColumnRenamed("text_norm", text)
                .withColumnRenamed("text_norm_changed", "_norm_changed"))
    n_lang_dropped = 0
    if args.lang_id:
        # CCNet stage ordering: language-ID the page BEFORE the quality
        # and perplexity machinery (the classifier is one Arrow stage;
        # everything downstream then runs per-language or on the kept
        # languages only). langid_lang/_conf ride into the curated
        # output as columns either way.
        from .operators.text_analysis import with_lang_id_classifier

        kept = with_lang_id_classifier(kept, text_col=text)
        if args.lang_keep:
            wanted = [l.strip() for l in args.lang_keep.split(",") if l.strip()]
            before = kept.count()
            kept = kept.where(F.col("langid_lang").isin(wanted))
            n_lang_dropped = before - kept.count()
    badwords = None
    if args.badwords_file:
        with open(args.badwords_file) as fh:
            badwords = [w.strip() for w in fh if w.strip()]
    red = quality_chain(kept, text_col=text, min_words=args.min_words,
                        min_words_per_line=args.min_words_per_line,
                        min_kept_lines=args.min_kept_lines, sep=args.sep,
                        badwords=badwords, gopher=not args.skip_gopher,
                        c4=not args.skip_c4).persist()
    n_after_filters = red.count()  # materialize before the dedup fan-out

    deduped = corpus_line_dedup(red, key=key, text_col=text, sep=args.sep)
    payload = red.drop(text, "_norm_changed") if args.normalize \
        else red.drop(text)
    out = (payload.join(deduped, key)
           .where(F.col("n_kept") > 0))

    n_contaminated = 0
    if args.decontaminate:
        from .operators.webtext import ngram_contamination

        bench = spark.read.parquet(args.decontaminate)
        flags = ngram_contamination(
            out, bench, n=args.decontam_n, key=key, text_col=text,
            bench_text_col=args.decontam_text_col)
        bad = flags.where("contaminated").select(key)
        n_contaminated = bad.count()
        out = out.join(bad, key, "left_anti")
    out.write.mode("overwrite").parquet(args.output)

    curated = spark.read.parquet(args.output)
    aggs = [F.sum("n_emails").alias("e"), F.sum("n_ips").alias("i"),
            F.sum("n_phones").alias("p")]
    if args.normalize:
        aggs.append(
            F.sum(F.col("_norm_changed").cast("int")).alias("nc"))
    pii = red.agg(*aggs).collect()[0]
    lines = curated.agg(F.sum("n_lines").alias("t"),
                        F.sum("n_kept").alias("k")).collect()[0]
    summary = {
        "n_input": n_input,
        "n_after_quality_filters": n_after_filters,
        "n_output": curated.count(),
        "pii_redacted": {"emails": int(pii["e"] or 0),
                         "ips": int(pii["i"] or 0),
                         "phones": int(pii["p"] or 0)},
        "lines_seen": int(lines["t"] or 0),
        "lines_kept": int(lines["k"] or 0),
    }
    if args.sample is not None:
        summary["sample_rate"] = args.sample
    if args.url_dedup:
        summary["n_url_duplicates_dropped"] = n_url_dropped
    if args.robots_txt:
        summary["n_robots_disallowed_dropped"] = n_robots_dropped
    if args.lang_id:
        summary["n_lang_dropped"] = n_lang_dropped
    if args.normalize:
        summary["normalized_changed"] = int(pii["nc"] or 0)
    if args.decontaminate:
        summary["n_contaminated_dropped"] = n_contaminated
    red.unpersist()
    spark.catalog.clearCache()
    if args.summary:
        with open(args.summary, "w") as f:
            json.dump(summary, f, indent=1)
    print(f"curate: {json.dumps(summary)}")


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(prog="docling-eval-spark")
    ap.add_argument("--cpus", type=int, default=None)
    sub = ap.add_subparsers(dest="cmd", required=True)

    g = sub.add_parser("create-gt")
    g.add_argument("--from-documents", required=True)
    g.add_argument("--output", required=True)
    g.add_argument("--partitions", type=int, default=16)
    g.set_defaults(fn=cmd_create_gt)

    e = sub.add_parser("create-eval")
    e.add_argument("--input", required=True)
    e.add_argument("--output", required=True)
    e.add_argument("--lineage", default=None)
    e.add_argument("--run-id", default=None)
    e.add_argument("--partitions", type=int, default=16)
    e.add_argument("--resume", action="store_true")
    e.set_defaults(fn=cmd_create_eval)

    v = sub.add_parser("evaluate")
    v.add_argument("--input", default=None, help="scored rows (markdown modality)")
    v.add_argument("--from-documents", default=None, help="documents dir (synthetic modalities)")
    v.add_argument("--modality", required=True, choices=MODALITIES)
    v.add_argument("--benchmark", default="synthetic")
    v.add_argument("--output-dir", required=True)
    v.set_defaults(fn=cmd_evaluate)

    me = sub.add_parser("multi-evaluate")
    me.add_argument("--root-dir", required=True)
    me.add_argument("--benchmarks", required=True,
                    help="name=documents_dir[,name=documents_dir...]")
    me.add_argument("--experiments", default="spark")
    me.add_argument("--modalities", default=",".join(MODALITIES))
    me.add_argument("--partitions", type=int, default=16)
    me.set_defaults(fn=cmd_multi_evaluate)

    p = sub.add_parser("score-files")
    p.add_argument("--pred-dir", required=True)
    p.add_argument("--format", default="md", choices=["md", "txt"])
    p.add_argument("--from-documents", required=True)
    p.add_argument("--benchmark", default="files")
    p.add_argument("--output-dir", required=True)
    p.set_defaults(fn=cmd_score_files)

    z = sub.add_parser("visualize")
    z.add_argument("--evaluation", required=True)
    z.add_argument("--output-dir", required=True)
    z.set_defaults(fn=cmd_visualize)

    cu = sub.add_parser("curate")
    cu.add_argument("--input", required=True)
    cu.add_argument("--output", required=True)
    cu.add_argument("--key", default="doc_id")
    cu.add_argument("--text-col", default="text")
    cu.add_argument("--sep", default="\n")
    cu.add_argument("--min-words", type=int, default=20)
    cu.add_argument("--min-words-per-line", type=int, default=5)
    cu.add_argument("--min-kept-lines", type=int, default=1)
    cu.add_argument("--skip-gopher", action="store_true")
    cu.add_argument("--skip-c4", action="store_true")
    cu.add_argument("--badwords-file", default=None,
                    help="text file, one word per line: C4's badlist "
                         "page gate (drop pages containing any listed "
                         "token)")
    cu.add_argument("--sample", type=float, default=None)
    cu.add_argument("--sample-salt", default="")
    cu.add_argument("--url-dedup", action="store_true",
                    help="canonical-URL exact dedup first (RefinedWeb "
                         "stage ordering)")
    cu.add_argument("--url-col", default="url")
    cu.add_argument("--robots-txt", default=None,
                    help="parquet table (domain, robots_txt): drop "
                         "pages the domain's robots.txt disallows "
                         "(RFC 9309 longest-match)")
    cu.add_argument("--robots-agent", default="*",
                    help="product token to evaluate robots.txt "
                         "groups for (with --robots-txt)")
    cu.add_argument("--normalize", action="store_true")
    cu.add_argument("--lang-id", action="store_true",
                    help="classify page language (hashed char-n-gram "
                         "softmax, CCNet stage position) and keep the "
                         "prediction columns")
    cu.add_argument("--lang-keep", default=None,
                    help="comma-separated language codes to keep "
                         "(with --lang-id)")
    cu.add_argument("--decontaminate", default=None,
                    help="parquet path of a benchmark table to n-gram "
                         "decontaminate against")
    cu.add_argument("--decontam-n", type=int, default=13)
    cu.add_argument("--decontam-text-col", default="text")
    cu.add_argument("--summary", default=None)
    cu.set_defaults(fn=cmd_curate)

    c = sub.add_parser("consolidate")
    c.add_argument("--from-documents", default=None)
    c.add_argument("--evaluations", default=None,
                   help="dir of <experiment>/evaluation_*.json sidecars")
    c.add_argument("--output", required=True)
    c.set_defaults(fn=cmd_consolidate)

    args = ap.parse_args(argv)
    args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
