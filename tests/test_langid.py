"""From-scratch language-ID classifier: held-out accuracy, determinism,
empty-text handling, the Spark operator stage, and the curate-CLI
position (CCNet ordering: language bucketing before quality gates)."""

import numpy as np
import pytest


def test_heldout_accuracy_all_languages():
    from docling_eval_spark.functions.langid import (
        LANGS, get_model, predict, synth_page)

    W, b = get_model()
    texts, truth = [], []
    for lang in LANGS:
        for s in range(25):
            # seed family disjoint from training (7*1e6+...) and the
            # oracle fixture (doc_id + 31_337)
            texts.append(synth_page(lang, 500_000_000 + s * 13, 40))
            truth.append(lang)
    langs, conf = predict(texts, W, b)
    acc = np.mean([a == t for a, t in zip(langs, truth)])
    assert acc >= 0.99, [(t, a) for a, t in zip(langs, truth) if a != t][:5]
    assert conf.min() > 0.2    # confident, not coin-flip wins


def test_short_text_and_confusable_pairs():
    from docling_eval_spark.functions.langid import get_model, predict, synth_page

    W, b = get_model()
    # the classic confusables at only 12 words
    close = ["sv", "da", "no", "es", "pt", "ca"]
    texts = [synth_page(l, 42 + i, 12) for i, l in enumerate(close)]
    langs, _ = predict(texts, W, b)
    assert langs == close


def test_deterministic_weights():
    # a fresh training against the process-cached model, which an earlier
    # test has usually trained already: two independent trainings, one paid
    from docling_eval_spark.functions.langid import get_model, train_langid

    W1, b1 = train_langid()
    W2, b2 = get_model()
    assert np.array_equal(W1, W2) and np.array_equal(b1, b2)


def test_empty_text_is_und():
    from docling_eval_spark.functions.langid import get_model, predict

    W, b = get_model()
    langs, conf = predict(["", "   ", None, "the and of to in is"], W, b)
    assert langs[:3] == ["und", "und", "und"]
    assert conf[0] == 0.0 and langs[3] == "en"


def test_spark_operator_stage(spark):
    from docling_eval_spark.functions.langid import LANGS, synth_page
    from docling_eval_spark.operators.text_analysis import (
        with_lang_id_classifier)

    rows = [(i, synth_page(LANGS[i % len(LANGS)], 777 + i, 30))
            for i in range(46)] + [(99, "")]
    df = spark.createDataFrame(rows, ["doc_id", "text"]).repartition(4)
    out = {r.doc_id: r for r in with_lang_id_classifier(df).collect()}
    for i in range(46):
        assert out[i].langid_lang == LANGS[i % len(LANGS)], i
        assert out[i].langid_conf > 0.2
    assert out[99].langid_lang == "und" and out[99].langid_conf == 0.0


def test_language_gate_scores_each_row_once(spark, monkeypatch):
    """A filter on the gate's output must not copy the UDF into a pushed
    filter: one ArrowEvalPython in the executed plan, not two."""
    import numpy as np

    from docling_eval_spark.functions import langid
    from docling_eval_spark.operators.text_analysis import (
        with_lang_id_classifier)

    # a tiny model, so nothing trains: every non-empty text is English
    W = np.zeros((len(langid.LANGS), langid.N_BUCKETS), np.float32)
    W[langid.LANGS.index("en")] = 1.0
    monkeypatch.setattr(langid, "get_model",
                        lambda: (W, np.zeros(len(langid.LANGS), np.float32)))
    df = spark.createDataFrame([(1, "the cat"), (2, ""), (3, "der hund")],
                               "doc_id long, text string")
    kept = with_lang_id_classifier(df).where("langid_lang = 'en'")
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan
    assert sorted(r.doc_id for r in kept.collect()) == [1, 3]


def test_curate_cli_lang_keep(spark, tmp_path):
    from docling_eval_spark.cli import main as cli_main
    from docling_eval_spark.functions.langid import synth_page

    def doc(i, lang):
        # long enough to pass Gopher/C4 with the relaxed thresholds
        body = synth_page(lang, 31 + i, 60)
        return (i, f"https://x/{i}", body + " word ending sentence.")

    rows = [doc(i, "en") for i in range(0, 6)] + \
           [doc(i, "de") for i in range(6, 10)] + \
           [doc(i, "fr") for i in range(10, 12)]
    inp = str(tmp_path / "in")
    out = str(tmp_path / "out")
    spark.createDataFrame(rows, ["doc_id", "url", "text"]) \
        .write.mode("overwrite").parquet(inp)
    cli_main(["curate", "--input", inp, "--output", out,
              "--lang-id", "--lang-keep", "en,de",
              "--skip-gopher", "--skip-c4",
              "--summary", str(tmp_path / "s.json")])
    got = spark.read.parquet(out)
    assert set(r.langid_lang for r in got.collect()) <= {"en", "de"}
    assert got.count() == 10
    import json
    summary = json.load(open(tmp_path / "s.json"))
    assert summary["n_lang_dropped"] == 2
