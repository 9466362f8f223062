"""`segmented_docs` and `page_ocr_scores` against the native plan they
replaced: the split/slice/transform expression tree below is kept here as
the reference, so the one Python segmentation rule is checked against
Spark's own tokenization on edge-case text."""

import pytest
from pyspark.sql import functions as F

from docling_eval_spark.sources.tables import DOCUMENTS_SCHEMA_DDL


def _native_lines(page_toks):
    chunks = (
        F.when(F.size(page_toks) == F.lit(0),
               F.array().cast("array<string>"))
        .otherwise(F.transform(
            F.sequence(F.lit(0), ((F.size(page_toks) - F.lit(1)) / F.lit(8)).cast("int")),
            lambda j: F.array_join(F.slice(page_toks, j * F.lit(8) + F.lit(1), 8), " "),
        ))
    )
    return F.transform(
        chunks,
        lambda c, i: F.struct(i.cast("int").alias("cell_id"), c.alias("text")),
    )


def _native_degrade(cells, mode):
    n = F.size(cells)
    return F.transform(
        cells,
        lambda c, i: F.struct(
            c["cell_id"].alias("cell_id"),
            F.when((mode == F.lit(1)) & (i == F.lit(0)),
                   c["text"].substr(F.lit(2), F.length(c["text"])))
            .when((mode == F.lit(2)) & (i == n - F.lit(1)),
                  F.concat(c["text"], F.lit("X")))
            .otherwise(c["text"]).alias("text"),
        ),
    )


def native_segmented(docs):
    """(doc_id, gt_pages, pred_pages) as the native plan built them."""
    toks = F.filter(F.split(F.col("text"), r"\s+"), lambda x: x != F.lit(""))
    n_pages = F.ceil(F.size(toks) / F.lit(25)).cast("int")
    pages_map = F.when(n_pages == F.lit(0), F.map_from_entries(
        F.array().cast("array<struct<page_no:int,cells:array<struct<cell_id:int,text:string>>>>"))
    ).otherwise(F.map_from_entries(F.transform(
        F.sequence(F.lit(1), n_pages),
        lambda i: F.struct(
            i.cast("int").alias("page_no"),
            _native_lines(F.slice(toks, (i - F.lit(1)) * F.lit(25) + F.lit(1),
                                  25)).alias("cells"),
        ),
    )))
    gt = docs.select("doc_id", pages_map.alias("gt_pages"))
    return gt.select(
        "doc_id", "gt_pages",
        F.map_from_entries(F.transform(
            F.map_entries("gt_pages"),
            lambda e: F.struct(
                e["key"].alias("page_no"),
                _native_degrade(
                    e["value"], (F.col("doc_id") + e["key"]) % 3).alias("cells"),
            ),
        )).alias("pred_pages"),
    )


def _words(n, tag):
    return " ".join(f"{tag}{i}" for i in range(n))


DOCS = [
    (0, ""),
    (1, None),
    (2, "  \t \n\r  "),
    (3, "a\tb\x0bc\x0cd\re\nf  g"),
    (4, "x\u00a0y z\u2003w v\u3000u t\x1cs r\x85q p"),  # no Java \s among them
    (5, "  lead and trail  \n"),
    (6, "a " + _words(30, "m")),   # page 1 is mode 1: its first cell is "a ..."
    (9, "q"),                      # a mode-1 page of one 1-char token
    (10, _words(8, "e")),
    (11, _words(25, "p")),
    (12, _words(50, "f")),
    (13, _words(24, "g") + " z"),
    (-5, _words(30, "n")),          # signed remainders, as the JVM takes them
]


@pytest.fixture(scope="module")
def crafted(spark, tmp_path_factory):
    sf = str(tmp_path_factory.mktemp("crafted_sf"))
    rows = [(d, t, "en", "crafted", None if t is None else len(t)) for d, t in DOCS]
    spark.createDataFrame(rows, DOCUMENTS_SCHEMA_DDL) \
        .write.parquet(f"{sf}/documents.parquet")
    docs = spark.read.parquet(f"{sf}/documents.parquet").select("doc_id", "text")
    return sf, native_segmented(docs)


def test_segmented_docs_equal_native(spark, crafted):
    from docling_eval_spark.plans.ocr_eval import segmented_docs

    sf, native = crafted
    got = segmented_docs(spark, sf, n_partitions=3)
    assert got.dtypes == native.dtypes
    want = {r["doc_id"]: r for r in native.collect()}
    rows = {r["doc_id"]: r for r in got.collect()}
    assert rows == want
    # the cases the rows cover, as the native plan segments them
    assert rows[1]["gt_pages"] is None and rows[1]["pred_pages"] is None
    assert rows[0]["gt_pages"] == {} and rows[2]["gt_pages"] == {}
    assert [c["text"] for c in rows[4]["gt_pages"][1]] == [dict(DOCS)[4]]
    assert rows[9]["pred_pages"] == {1: [(0, "")]}
    assert sorted(rows[12]["gt_pages"]) == [1, 2]
    assert [len(c["text"].split(" ")) for c in rows[11]["gt_pages"][1]] == [8, 8, 8, 1]


def test_page_ocr_scores_equal_native(spark, crafted):
    from docling_eval_spark.functions.text_metrics import cer
    from docling_eval_spark.plans.ocr_eval import page_ocr_scores

    sf, native = crafted
    text = lambda cells: F.array_join(F.transform(cells, lambda c: c["text"]), " ")  # noqa: E731
    pages = native.select(
        "doc_id", "pred_pages", F.explode("gt_pages").alias("page_no", "gt_cells")
    ).select(
        "doc_id", "page_no",
        ((F.col("doc_id") + F.col("page_no")) % 3).cast("int").alias("mode"),
        text("gt_cells").alias("gt"),
        text(F.element_at("pred_pages", F.col("page_no"))).alias("pred"),
    ).collect()
    want = []
    for d, p, m, gt, pred in pages:
        c = (0.0 if pred == gt else cer(pred, gt)) if gt and pred else 1.0
        want.append((d, p, m, c, 1.0 - min(1.0, c) if gt and pred else 0.0))
    got = [tuple(r) for r in page_ocr_scores(spark, sf, n_partitions=3).collect()]
    assert sorted(got) == sorted(want)
    assert (9, 1, 1, 1.0, 0.0) in got       # missing prediction text
    assert {r[2] for r in got if r[0] == -5} == {-1, 0}


def test_page_ocr_scores_is_one_python_stage(spark, sf_dir):
    """One MapInPandas and no Generate: the pages are not exploded in the
    JVM, and no segmentation expression is copied into a filter below the
    shuffle."""
    from docling_eval_spark.plans.ocr_eval import page_ocr_scores

    plan = page_ocr_scores(spark, sf_dir)._jdf.queryExecution() \
        .executedPlan().toString()
    nodes = [line.lstrip(" +-:*(0123456789)") for line in plan.splitlines()]
    assert sum(n.startswith("MapInPandas") for n in nodes) == 1
    assert not any(n.startswith("Generate") for n in nodes)
    assert "split(" not in plan

