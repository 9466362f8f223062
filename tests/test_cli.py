"""End-to-end CLI test: the reference's five-command lifecycle
(create-gt -> create-eval -> evaluate -> visualize -> consolidate) chained
over a temp workspace (reference model: tests/test_dataset_builder.py
e2e chain with pytest-dependency; here one test function, same flow)."""

from __future__ import annotations

import json
import os


def test_cli_lifecycle(spark, sf_dir, tmp_path):
    # reuse the session fixture's JVM: cli._spark resolves getOrCreate
    from docling_eval_spark import cli

    pages = str(tmp_path / "pages")
    scored = str(tmp_path / "scored")
    lineage = str(tmp_path / "lineage")
    evals = str(tmp_path / "evals")
    viz = str(tmp_path / "viz")
    csv = str(tmp_path / "matrix.csv")

    cli.main(["create-gt", "--from-documents", sf_dir, "--output", pages])
    assert spark.read.parquet(pages).count() == 500

    cli.main(["create-eval", "--input", pages, "--output", scored,
              "--lineage", lineage, "--run-id", "t", "--resume"])
    sdf = spark.read.parquet(scored)
    assert sdf.count() == 500
    assert sdf.where("NOT byte_identical").count() == 0
    assert spark.read.parquet(lineage).count() > 0

    # resume: re-running commits nothing new
    cli.main(["create-eval", "--input", pages, "--output", scored, "--resume"])
    assert spark.read.parquet(scored).count() == 500

    for modality, src in [("markdown", None), ("table", sf_dir),
                          ("reading_order", sf_dir)]:
        argv = ["evaluate", "--modality", modality, "--output-dir", evals]
        argv += ["--input", scored] if src is None else ["--from-documents", src]
        cli.main(argv)
        p = os.path.join(evals, f"evaluation_synthetic_{modality}.json")
        doc = json.loads(open(p).read())
        assert doc["modality"] == modality

    md_eval = os.path.join(evals, "evaluation_synthetic_markdown.json")
    cli.main(["visualize", "--evaluation", md_eval, "--output-dir", viz])
    txt = open(os.path.join(viz, "evaluation_synthetic_markdown.txt")).read()
    assert "mean_bleu" in txt

    cli.main(["consolidate", "--from-documents", sf_dir, "--output", csv])
    lines = open(csv).read().strip().splitlines()
    assert lines[0] == "source,de,en,es,fr,zh"
    assert len(lines) == 21


def test_cli_curate(spark, tmp_path):
    from docling_eval_spark import cli

    l1 = "the quick brown fox jumps over the fence."
    l2 = "a lazy dog sleeps near the old barn today."
    l3 = "it is a warm day for the whole town."
    l4 = "another page shares the first line of text."
    l5 = "but it keeps a second unique line here."
    pii = ("the offer is for the first ten of the callers today so "
           "contact bob@mail.example for the details now and then "
           "tell all of the other people too.")
    rows = [
        (1, "\n".join([l1, l2, l3])),
        (2, "\n".join([l1, l4, l5])),   # l1 duplicates doc 1's copy
        (3, "tiny."),                   # fails the Gopher word-count gate
        (4, pii),
    ]
    inp = str(tmp_path / "docs")
    out = str(tmp_path / "curated")
    summ = str(tmp_path / "summary.json")
    spark.createDataFrame(rows, ["doc_id", "text"]).write.parquet(inp)

    cli.main(["curate", "--input", inp, "--output", out,
              "--min-words", "20", "--summary", summ])

    cur = {r.doc_id: r for r in spark.read.parquet(out).collect()}
    assert set(cur) == {1, 2, 4}
    assert cur[1].text == "\n".join([l1, l2, l3])
    assert cur[2].text == "\n".join([l4, l5])      # shared line removed
    assert cur[2].n_lines == 3 and cur[2].n_kept == 2
    assert "<EMAIL>" in cur[4].text and "bob@" not in cur[4].text

    s = json.loads(open(summ).read())
    assert s["n_input"] == 4
    assert s["n_after_quality_filters"] == 3
    assert s["n_output"] == 3
    assert s["pii_redacted"]["emails"] == 1
    assert s["lines_seen"] == 7 and s["lines_kept"] == 6


def test_cli_curate_url_dedup_stage(spark, tmp_path):
    """--url-dedup drops canonical-URL duplicates before any quality
    gate and accounts for them in the summary."""
    from docling_eval_spark import cli

    line = "the quick brown fox jumps over the fence today."
    body = "\n".join([line, line.replace("fox", "cat"),
                      line.replace("fox", "owl")])
    rows = [
        (1, "https://www.a.example/p?utm_source=x", body),
        (2, "https://A.example/p/", body),      # same canonical URL
        (3, "https://a.example/q", body.replace("the", "a")),
    ]
    inp = str(tmp_path / "docs")
    out = str(tmp_path / "curated")
    summ = str(tmp_path / "summary.json")
    spark.createDataFrame(rows, ["doc_id", "url", "text"]) \
        .write.parquet(inp)

    cli.main(["curate", "--input", inp, "--output", out,
              "--min-words", "10", "--url-dedup", "--summary", summ])

    cur = spark.read.parquet(out).collect()
    assert {r.doc_id for r in cur} == {1, 3}   # min-key survivor wins
    s = json.loads(open(summ).read())
    assert s["n_url_duplicates_dropped"] == 1
    assert s["n_input"] == 3 and s["n_output"] == 2


def test_cli_curate_applies_c4_line_filter(spark, tmp_path):
    """The C4 stage must adopt text_clean: a line failing the line rules
    (no terminal punctuation) must not survive into the curated output
    even when the page itself passes."""
    from docling_eval_spark import cli

    good = [
        "the quick brown fox jumps over the fence.",
        "a lazy dog sleeps near the old barn today.",
        "it is a warm day for the whole town.",
    ]
    bad = "click here for more"          # no terminal punctuation
    inp = str(tmp_path / "docs")
    out = str(tmp_path / "curated")
    spark.createDataFrame(
        [(1, "\n".join(good[:2] + [bad] + good[2:]))],
        ["doc_id", "text"]).write.parquet(inp)

    cli.main(["curate", "--input", inp, "--output", out,
              "--min-words", "20"])

    cur = spark.read.parquet(out).collect()
    assert len(cur) == 1
    assert cur[0].text == "\n".join(good)
    assert "click here" not in cur[0].text


def test_cli_curate_full_chain(spark, tmp_path):
    """normalize + decontaminate + sample stages of the curate chain."""
    from docling_eval_spark import cli

    l1 = "the quick brown fox jumps over the fence."
    l2 = "a lazy dog sleeps near the old barn today."
    l3 = "it is a warm day for the whole town."
    l4 = "another page shares some words of text here."
    l5 = "but it keeps a second unique line here."
    rows = [
        (1, "\n".join([l1, l2, l3])),
        # doc 2 is doc-1-line-1 with NOISE (double spaces) + own lines:
        # normalization must recover l1 so the line dedup catches it
        (2, "\n".join([l1.replace(" ", "  "), l4, l5])),
    ]
    inp = str(tmp_path / "docs")
    benchp = str(tmp_path / "bench")
    out = str(tmp_path / "curated")
    summ = str(tmp_path / "summary.json")
    spark.createDataFrame(rows, ["doc_id", "text"]).write.parquet(inp)
    # benchmark shares a 5-gram with doc 1's line 2
    spark.createDataFrame(
        [(900, "a lazy dog sleeps near a river")],
        ["doc_id", "text"]).write.parquet(benchp)

    cli.main(["curate", "--input", inp, "--output", out,
              "--min-words", "10", "--normalize",
              "--decontaminate", benchp, "--decontam-n", "5",
              "--summary", summ])

    cur = {r.doc_id: r for r in spark.read.parquet(out).collect()}
    # doc 1 is dropped by decontamination (shares "a lazy dog sleeps
    # near" with the benchmark); doc 2 survives with l1 dedup'd away
    assert set(cur) == {2}
    assert cur[2].text == "\n".join([l4, l5])
    s = json.loads(open(summ).read())
    assert s["normalized_changed"] == 1
    assert s["n_contaminated_dropped"] == 1
    assert "sample_rate" not in s

    # sampling stage: rate 0 keeps nothing, summary records the rate
    out0 = str(tmp_path / "curated0")
    summ0 = str(tmp_path / "summary0.json")
    cli.main(["curate", "--input", inp, "--output", out0,
              "--sample", "0.0", "--summary", summ0])
    s0 = json.loads(open(summ0).read())
    assert s0["n_input"] == 0 and s0["n_output"] == 0
    assert s0["sample_rate"] == 0.0
