"""Feature-encoding pipeline (SURVEY.md §2j L1-L6).

Reproduces the reference's 24-stage MLlib Pipeline
(/root/reference/src/main/helper_methods.py:252-278) with identical
per-column configuration, collapsed into 5 stages via the
multi-column StringIndexer/OneHotEncoder forms (one fit scan instead
of eleven):

- StringIndexer per categorical, handleInvalid="keep" (L1 — unseen
  categories at scoring time survive as an extra index),
- OneHotEncoder per indexed column (L2),
- VectorAssembler over the numeric features, handleInvalid="skip" (L3),
- RobustScaler IQR scaling, withScaling=True / withCentering=False /
  lower=0.25 / upper=0.75 (L4),
- final VectorAssembler packing one-hots + scaled numerics (L5),
- pyspark.ml.Pipeline ordering (L6).

Scale note: each StringIndexer.fit is a distinct-count job and
RobustScaler.fit runs quantile sketches — at 100 TB, fit on a sampled
frame or persist the input before Pipeline.fit so the ~2k+1 fit jobs
share a cached lineage (the CLI persists its prepared frame before the
fit; train.py persists the encoded frame before the tree fit).
"""

from __future__ import annotations

from pyspark.ml import Pipeline
from pyspark.ml.feature import (
    OneHotEncoder,
    RobustScaler,
    StringIndexer,
    VectorAssembler,
)


def build_feature_pipeline(
    categorical_cols: list[str], numeric_cols: list[str]
) -> Pipeline:
    """L1-L6: the reference's encoder Pipeline, parameter-identical
    per column — but with ONE multi-column StringIndexer and ONE
    multi-column OneHotEncoder instead of the reference's per-column
    stages. Semantics are identical (per-column frequency-desc index
    assignment, per-column keep-bucket); physics differ: one
    fit pass computing all 11 value counts instead of 11 sequential
    distinct-count jobs over the same frame — the difference between
    1 and 11 scans at 100 TB."""
    indexers = [
        StringIndexer(
            inputCols=list(categorical_cols),
            outputCols=[f"{c}_index" for c in categorical_cols],
            handleInvalid="keep",
        )
    ]
    encoders = [
        OneHotEncoder(
            inputCols=[f"{c}_index" for c in categorical_cols],
            outputCols=[f"{c}_ONEHOT" for c in categorical_cols],
        )
    ]
    numeric_assembler = VectorAssembler(
        inputCols=numeric_cols, outputCol="COMBINED_vec", handleInvalid="skip"
    )
    scaler = RobustScaler(
        inputCol="COMBINED_vec",
        outputCol="scaledFeatures",
        withScaling=True,
        withCentering=False,
        lower=0.25,
        upper=0.75,
    )
    final_assembler = VectorAssembler(
        inputCols=[f"{c}_ONEHOT" for c in categorical_cols] + ["scaledFeatures"],
        outputCol="features",
    )
    return Pipeline(stages=indexers + encoders + [numeric_assembler, scaler, final_assembler])


def impute_numeric(df, cols: list[str], strategy: str = "mean"):
    """Null imputation as an MLlib estimator (extension beyond the
    reference, which drops null rows — dataset_utils.py:21-28's
    dropna; imputation keeps the rows a 100 TB pipeline can't afford
    to shed). ONE multi-column Imputer: a single agg job computes all
    column statistics (mean or approx median), then a map-only
    transform fills the nulls into `<col>_imp` — no shuffle of the
    data itself."""
    from pyspark.ml.feature import Imputer

    imputer = Imputer(
        strategy=strategy,
        inputCols=list(cols),
        outputCols=[f"{c}_imp" for c in cols],
    )
    return imputer.fit(df).transform(df)
