"""Vectorized pandas/Arrow UDFs for the scoring stages (the ONLY Python in
the pipeline's hot path: models, heuristic metrics and scrub in one
fused UDF; the verdict on top is built-in expressions).

The model weights (numpy arrays) are shipped via
``SparkContext.broadcast`` — one copy per executor, not per task
(SURVEY.md §4 'broadcast of langid/perplexity model blobs'). One fused
UDF computes both langid prediction and perplexity so ``content`` makes
a single Arrow round trip.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .models import CharLM, LangIdModel, get_models

_SCORE_SCHEMA = "langid_pred string, ppl double"


def broadcast_models(spark: SparkSession, langid=None, lm=None):
    """Broadcast the scoring models. Defaults to the deterministic
    fixture-trained models; pass corpus-trained replacements (e.g. from
    models.train_langid_distributed / train_char_lm_distributed) to run
    the pipeline with models trained ON the data being filtered — same
    arrays format, so the fused scorer UDF is unchanged."""
    d_langid, d_lm = get_models()
    langid = langid if langid is not None else d_langid
    lm = lm if lm is not None else d_lm
    return spark.sparkContext.broadcast(
        {"langid": langid.to_arrays(), "lm": lm.to_arrays()}
    )


def model_score_udf(bc) -> "callable":
    """Fused langid+perplexity scorer: Series[str] -> DataFrame(2 cols)."""

    @pandas_udf(_SCORE_SCHEMA)
    def score(content: pd.Series) -> pd.DataFrame:
        d = bc.value
        langid = LangIdModel.from_arrays(d["langid"])
        lm = CharLM.from_arrays(d["lm"])
        texts = content.fillna("").tolist()
        preds = langid.predict(texts)      # batch-vectorized (models.py)
        ppls = lm.ppl_batch(texts)
        return pd.DataFrame({"langid_pred": preds, "ppl": ppls})

    return score


def with_model_scores(df, bc, content_col: str = "content"):
    """Adds ``langid_pred`` and ``ppl`` columns via one fused Arrow pass."""
    scored = df.withColumn("_scores", model_score_udf(bc)(F.col(content_col)))
    return (
        scored.withColumn("langid_pred", F.col("_scores.langid_pred"))
        .withColumn("ppl", F.col("_scores.ppl"))
        .drop("_scores")
    )


# ---------------------------------------------------------------------------
# fully-fused scorer: models + heuristic metrics + scrub in ONE Arrow pass
# (the pipeline hot path — see functions/textmetrics.py for why this is
# Python-side instead of Column expressions)
# ---------------------------------------------------------------------------

def _full_schema() -> str:
    from .. import config as C
    from .textmetrics import METRIC_FIELDS

    fields = ["langid_pred string", "ppl double"]
    for f in METRIC_FIELDS:
        kind = "double" if f.endswith(("ratio", "fraction")) or f == "mean_line_len" else "long"
        fields.append(f"{f} {kind}")
    fields += [f"hits_{name} long" for name, _p, _r in C.SCRUB_RULES]
    fields.append("scrubbed string")
    return ", ".join(fields)


def full_score_udf(bc) -> "callable":
    @pandas_udf(_full_schema())
    def score(content: pd.Series) -> pd.DataFrame:
        from .textmetrics import score_batch

        d = bc.value
        langid = LangIdModel.from_arrays(d["langid"])
        lm = CharLM.from_arrays(d["lm"])
        texts = content.fillna("").tolist()
        return pd.DataFrame(score_batch(texts, langid, lm))

    return score


def with_full_scores(df, bc, content_col: str = "content"):
    scored = df.withColumn("_s", full_score_udf(bc)(F.col(content_col)))
    return scored.select("*", "_s.*").drop("_s")
