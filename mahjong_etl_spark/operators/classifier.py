"""Distributed quality-classifier training over the embeddings table.

A training-data pipeline does not just FILTER with quality models — it
trains them on the corpus (fastText-style quality classifiers are the
standard pretraining-data gate).  This module trains a logistic
regression (label==0 vs rest, the one-vs-rest building block) with
full-batch gradient descent where every epoch is ONE distributed pass:

    mapInPandas partial gradients (numpy, Arrow-batched)
        -> int64 fixed-point partials  (exact, order-independent)
        -> driver sums partials and takes the step (d+1 floats)

The fixed-point trick is what makes distributed training
BIT-REPRODUCIBLE: float partial sums depend on partition boundaries
and reduce order, but each sample's gradient contribution is an
elementwise float64 computation (deterministic) quantized to an int64
grid (1e-9), and integer addition is associative — so the learned
weights are identical for ANY partitioning, executor count, or reduce
order.  The same exact-int discipline the SQL plane uses for money
(registry.py conventions), applied to SGD.  At 1e-9 grain an int64
gradient cell saturates at ~9.2e9 sample-units of |∂|≈1; beyond that
corpus size the grain drops a decade (1e-6 still beats float32 noise).

Driver traffic per epoch: n_partitions × (d+1) int64s.  Epoch count is
fixed (EPOCHS); learning rate anneals deterministically.  Inference /
evaluation quantizes the learned weights to int64 1e-6 units and
scores with an exact integer dot product — both engines agree
bit-for-bit, so the evaluation query carries a full value-hash oracle
(golden weights parquet + SQL integer scoring, same corpus_sig-keyed
golden pattern as the BPE/minhash oracles).
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.registry import query
from ..session import snapshot_cache
from ..sources.tables import load

EPOCHS = 25
LR = 2.0
GRAD_SCALE = 1_000_000_000  # 1e-9 fixed-point gradient grid
W_SCALE = 1_000_000  # 1e-6 quantized weights for exact-int scoring
X_SCALE = 1_000_000  # 1e-6 quantized features for exact-int scoring
DIM = 64

_GOLDEN_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "tests",
    "fixtures",
)


def _partial_gradients(df: DataFrame, w: np.ndarray, dim: int) -> DataFrame:
    """One epoch's map-side work: exact int64 partial gradient (plus
    bias cell) per input partition.  The worker closure is fully
    self-contained (no module references — executors can't import this
    repo; see functions/bloom.py)."""
    import pandas as pd

    w_b = w.copy()  # (dim + 1,) float64, bias last
    scale = float(GRAD_SCALE)

    def partials(it):
        acc = np.zeros(len(w_b), dtype=np.int64)
        saw = False
        for pdf in it:
            if not len(pdf):
                continue
            saw = True
            x = np.vstack(pdf["embedding"].values).astype(np.float64)
            y = (pdf["label"].to_numpy() == 0).astype(np.float64)
            z = x @ w_b[:-1] + w_b[-1]
            p = 1.0 / (1.0 + np.exp(-z))
            err = p - y  # (n,)
            # quantize PER SAMPLE, then integer-sum: a float partial
            # sum before rounding would re-introduce partition- and
            # batch-boundary dependence — the exact property at stake
            contrib = np.round(err[:, None] * x * scale).astype(np.int64)
            acc[:-1] += contrib.sum(axis=0)
            acc[-1] += np.round(err * scale).astype(np.int64).sum()
        if saw:
            yield pd.DataFrame({"g": [acc.tobytes()]})

    return df.select("embedding", "label").mapInPandas(partials, schema="g binary")


def train_logreg(
    df: DataFrame, dim: int = DIM, epochs: int = EPOCHS, lr: float = LR
) -> np.ndarray:
    """Full-batch GD; returns float64 weights (bias last).  Exact-int
    partial aggregation makes the trajectory partitioning-invariant."""
    n = df.count()
    w = np.zeros(dim + 1, dtype=np.float64)
    for epoch in range(epochs):
        rows = _partial_gradients(df, w, dim).collect()
        g_int = np.zeros(dim + 1, dtype=np.int64)
        for r in rows:
            g_int += np.frombuffer(r.g, dtype=np.int64)
        g = g_int.astype(np.float64) / GRAD_SCALE
        w = w - (lr / n) * g
    return w


def quantized_weights(w: np.ndarray) -> np.ndarray:
    """int64 1e-6 weights (bias last) for exact integer scoring."""
    return np.round(w * W_SCALE).astype(np.int64)


def score_expr(w_quant: np.ndarray, x_scale: int) -> F.Column:
    """THE exact-int scoring expression for quantized weights (bias
    last) — single source for the batch evaluator below and the
    streaming scorer (streaming/scoring.py), so the quantization
    format can never drift between the offline evaluation and the
    online deploy (r7 review).  Compiles into whole-stage codegen; no
    Python on the scoring path."""
    w_csv = ", ".join(str(int(v)) for v in w_quant[:-1])
    bias = int(w_quant[-1]) * x_scale
    return F.expr(
        "aggregate(zip_with(embedding, "
        f"array({w_csv}), "
        f"(x, wi) -> CAST(round(x * {x_scale}) AS BIGINT) * CAST(wi AS BIGINT)), "
        f"CAST({bias} AS BIGINT), (acc, v) -> acc + v)"
    )


@snapshot_cache
def corpus_classifier(spark: SparkSession, sf_dir: str) -> np.ndarray:
    """Learned weights: one training per snapshot."""
    return train_logreg(load(spark, sf_dir, "embeddings"))


_SIG_SQL = """(SELECT CAST(count(*)
                      + sum(CAST(round(CAST(embedding[1] AS DOUBLE)
                                       * 1000000) AS BIGINT))
                      AS BIGINT)
               FROM embeddings)"""
# ^ the DOUBLE cast is load-bearing (r14): Spark promotes float*int
# to double, DuckDB multiplies in float32 — without it the two
# engines round a handful of boundary values apart at sf0.1
# (1532821 vs 1532817; they happen to agree at sf0.001/0.01, which
# is why every driver board was green while the divergence sat
# latent).  Spark-side corpus_sig is untouched, so every committed
# golden keeps its key.


def corpus_sig(spark: SparkSession, sf_dir: str) -> int:
    """Spark twin of _SIG_SQL (element_at is 1-based in both engines)."""
    r = (
        load(spark, sf_dir, "embeddings")
        .agg(
            (
                F.count(F.lit(1))
                + F.sum(
                    F.expr(
                        "CAST(round(element_at(embedding, 1) * 1000000)"
                        " AS BIGINT)"
                    )
                )
            ).cast("long")
        )
        .collect()
    )
    return int(r[0][0])


@query(
    "classifier_train_eval",
    oracle=f"""
    WITH w AS (
        SELECT dim, w_int
        FROM read_parquet('{_GOLDEN_DIR}/classifier_weights_golden.parquet')
        WHERE corpus_sig = {_SIG_SQL}
    ),
    x AS (
        SELECT vec_id, label,
               unnest(range(len(embedding))) + 1 AS dim,
               CAST(round(unnest(embedding) * {X_SCALE}) AS BIGINT) AS x_int
        FROM embeddings
    ),
    z AS (
        SELECT x.vec_id, x.label,
               CAST(sum(x.x_int * w.w_int) AS BIGINT)
                   + (SELECT w_int FROM w WHERE dim = 0) * {X_SCALE} AS z_int
        FROM x JOIN w USING (dim)
        GROUP BY 1, 2
    )
    SELECT label,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN z_int > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pred_pos,
           CAST(sum(CASE WHEN (z_int > 0) = (label = 0)
                         THEN 1 ELSE 0 END) AS DOUBLE)
               / count(*) AS acc
    FROM z GROUP BY label
    """,
)
def classifier_train_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the quality classifier FRESH (distributed, deterministic)
    and evaluate it with exact integer scoring: per true label, sample
    count, positive predictions, and accuracy of the (label==0)-vs-rest
    decision.  The oracle scores the committed golden weights in pure
    SQL over the same table — training bit-reproducibility means fresh
    weights == golden weights, so the driver hash pins the whole
    train→quantize→score→aggregate path.  Scoring is an exact int64
    dot product (weights 1e-6, features 1e-6; |z| stays ≪ 2^63 at
    d=64), identical in both engines; accuracy is ONE correctly-
    rounded double division of integers."""
    w = quantized_weights(corpus_classifier(spark, sf_dir))
    e = load(spark, sf_dir, "embeddings").withColumn(
        "z_int", score_expr(w, X_SCALE)
    )
    correct = (F.col("z_int") > 0) == (F.col("label") == 0)
    return e.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("z_int") > 0).cast("int")).cast("long").alias("n_pred_pos"),
        (
            F.sum(correct.cast("int")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("acc"),
    )
