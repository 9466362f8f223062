"""Text analysis for training-data pipelines.

Token counting and quality scoring (length/punct/stopword ratios) stay
inside whole-stage codegen (built-in pyspark.sql.functions only, no
Python UDFs), so at 100 TB they run at scan speed with full predicate
pushdown above them. Language ID is the one Arrow-batched classifier
stage (with_lang_id_classifier).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")


def token_count(col: Column) -> Column:
    """Whitespace token count; blank/empty text counts 0 (split of ''
    yields [''], which would otherwise count as one token)."""
    return F.when(F.length(F.trim(col)) == 0, F.lit(0)) \
        .otherwise(F.size(F.split(F.trim(col), r"\s+")))


def with_token_count(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("n_tokens", token_count(F.col(text_col)))


def with_quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """length / punctuation / stopword / word-length quality features.

    Rebuild-side analog of simple quality classifiers (Gopher/C4-style
    rules): all computable as native columns.
    """
    words = F.split(F.col(text_col), " ")
    n_words = F.size(words)
    stop_arr = F.array(*[F.lit(w) for w in STOPWORDS])
    n_stop = F.size(F.filter(words, lambda w: F.array_contains(stop_arr, w)))
    non_space_chars = F.length(F.regexp_replace(F.col(text_col), " ", ""))
    n_punct = F.length(F.col(text_col)) - F.length(
        F.regexp_replace(F.col(text_col), r"[\.,;:!\?]", "")
    )
    return (
        df.withColumn("n_chars_txt", F.length(F.col(text_col)))
        .withColumn("n_words", n_words)
        .withColumn("stopword_ratio", n_stop.cast("double") / n_words)
        .withColumn("mean_word_len", non_space_chars.cast("double") / n_words)
        .withColumn("punct_ratio", n_punct.cast("double") / F.greatest(F.length(F.col(text_col)), F.lit(1)))
    )


def with_lang_id_classifier(df: DataFrame, text_col: str = "text",
                            out_prefix: str = "langid_") -> DataFrame:
    """Real language identification: the from-scratch hashed
    char-n-gram softmax classifier (functions/langid.py — the fastText
    model family CCNet §4.3 buckets Common Crawl with, 23 languages).

    The model trains ONCE on the driver (deterministic, ~55 s on a
    4-core x86 machine, seeded synthetic corpus, cached per process) and
    its ~400 KB weight matrix ships to executors inside the UDF closure; scoring is one Arrow-batched
    SCALAR_ITER stage — a numpy GEMM per batch, no shuffle, no per-row
    Python rows. Adds {prefix}lang (ISO-639-1, 'und' for empty text)
    and {prefix}conf (softmax probability of the argmax)."""
    from pyspark.sql.functions import pandas_udf

    from ..functions.langid import get_model, predict

    W, b = get_model()

    @pandas_udf("struct<lang:string, conf:double>")
    def _score(s: pd.Series) -> pd.DataFrame:
        langs, conf = predict(s.tolist(), W, b)
        return pd.DataFrame({"lang": langs,
                             "conf": conf.astype("float64")})

    # nondeterministic, so it runs once per row: a filter on its output
    # would be pushed below it with a copy of the UDF (two ArrowEvalPython)
    scored = df.withColumn("_lid", _score.asNondeterministic()(F.col(text_col)))
    return (scored
            .withColumn(f"{out_prefix}lang", F.col("_lid.lang"))
            .withColumn(f"{out_prefix}conf", F.col("_lid.conf"))
            .drop("_lid"))
