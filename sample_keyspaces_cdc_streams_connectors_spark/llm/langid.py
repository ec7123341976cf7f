"""Trainable multiclass language identification (fastText-langid
style).

The heuristic ``functions.text.lang_id`` is an en/unknown stopword
gate — enough for an English-first pipeline, blind for a multilingual
mixture.  The production recipe (fastText lid.176 and its ancestors;
Joulin et al. 2016) is a LINEAR softmax classifier over hashed
character n-grams, trained on a small labeled seed set and applied
map-only to the full corpus.  The reference repo has no counterpart
(its only text scoring is remote embedding calls,
VectorHelper.java:100-168); this module adds the operator Spark-first,
reusing the ``llm.quality_model`` discipline:

- **Features**: character 1..3-grams of the normalized text hash into
  ``n_buckets`` ids — a pure-JVM projection (``sequence`` +
  ``substring`` + the engine's md5 hash), no Python, no shuffle.
- **Scoring**: per-doc logits = bias + Σ W[bucket] via ONE
  Arrow-batched kernel (flatten the batch's ragged feature arrays,
  one 2-D gather + one ``np.add.reduceat`` — the 2-D sibling of
  ``functions.ragged.ragged_segment_sums``), emitting the argmax
  label and its softmax confidence.  Map-only at any corpus size.
- **Training**: full-batch softmax regression, one gradient step per
  iteration: a map-only residual pass (per-doc ``p − onehot(y)``
  vectors), then ``explode(features) → groupBy(bucket)`` with
  per-class sums — the shuffle carries ≤ ``n_buckets`` rows of
  map-side-combined partials regardless of corpus size, and the
  dense ``n_buckets × n_classes`` gradient collects to the driver
  for the update (the ``llm.kmeans`` / ``quality_model`` loop shape).
  Deterministic: zero init, fixed iteration count + plateau stop,
  no RNG anywhere.

At 100 TB: train on a ``deterministic_sample`` of labeled rows
(labels are the scarce resource), persist with
:func:`save_langid_model`, and point ``corpus.langid-model-path`` at
it — the batch pipeline AND the streaming curation chain then replace
the heuristic ``lang`` column with model predictions before the
language filter (stream-safe: the scorer is stateless map-only).
"""

from __future__ import annotations

import json
import math
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from sample_keyspaces_cdc_streams_connectors_spark.functions.text import normalize_text
from sample_keyspaces_cdc_streams_connectors_spark.llm.dedup import md5_int

__all__ = [
    "LangIdModel",
    "char_ngram_features",
    "train_langid",
    "score_langid",
    "save_langid_model",
    "load_langid_model",
]


@dataclass(frozen=True)
class LangIdModel:
    """Softmax language classifier: ``P(lang) ∝ exp(bias_c + Σ
    W[h(ngram), c])`` over hashed char n-grams."""

    weights: np.ndarray  # float64[n_buckets, n_classes]
    bias: np.ndarray  # float64[n_classes]
    labels: list[str]  # class index -> language tag
    n_buckets: int

    def __post_init__(self) -> None:
        if self.weights.shape != (self.n_buckets, len(self.labels)):
            raise ValueError(
                f"weights shape {self.weights.shape} != "
                f"({self.n_buckets}, {len(self.labels)})"
            )
        if len(self.bias) != len(self.labels):
            raise ValueError("bias length != n_classes")
        if len(set(self.labels)) != len(self.labels):
            raise ValueError(f"duplicate labels: {self.labels}")


def char_ngram_features(
    col: Column, n_buckets: int, n_max: int = 3, max_chars: int = 4096
) -> Column:
    """Character 1..``n_max``-gram feature-bucket ids of the
    NORMALIZED text (array<int>, one id per n-gram OCCURRENCE) —
    pure-JVM: ``sequence`` positions × ``substring`` slices × the
    engine's md5 bucket hash.  Empty/NULL text yields an empty
    array.

    The normalized text is truncated to ``max_chars`` before the gram
    expansion: the expansion materializes ~``n_max``× the character
    count in JVM array entries plus the same again in the Arrow batch,
    so an uncapped multi-megabyte web document would balloon a single
    row to tens of MB of executor memory.  A few KB is ample signal
    for language ID (fastText-style trainers cap input the same way);
    pass ``max_chars=0`` to disable the cap."""
    t = normalize_text(col)
    if max_chars > 0:
        t = F.substring(t, 1, max_chars)
    n_chars = F.length(t)
    grams = None
    for n in range(1, n_max + 1):
        g = F.when(
            n_chars >= n,
            F.transform(
                F.sequence(F.lit(1), n_chars - (n - 1)),
                lambda i, _n=n: t.substr(i, F.lit(_n)),
            ),
        ).otherwise(F.array().cast("array<string>"))
        grams = g if grams is None else F.concat(grams, g)
    hashed = F.transform(
        grams, lambda s: F.pmod(md5_int(s), F.lit(n_buckets)).cast("int")
    )
    return F.coalesce(hashed, F.array().cast("array<int>"))


def _segment_sums_2d(
    vals, table: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """2-D sibling of ``functions.ragged.ragged_segment_sums``:
    per-row COLUMN-WISE sums of ``table[flat]`` (shape
    ``len(vals) × table.shape[1]``), plus the per-row lengths.
    ``np.add.reduceat`` reduces along axis 0, so one gather + one
    reduceat covers every class at once."""
    n = len(vals)
    c = table.shape[1]
    out = np.zeros((n, c), dtype=np.float64)
    lens = np.fromiter(
        (0 if v is None else len(v) for v in vals), dtype=np.int64, count=n
    )
    nonempty = [
        np.asarray(v, dtype=np.int64) for v in vals if v is not None and len(v)
    ]
    if nonempty:
        flat = nonempty[0] if len(nonempty) == 1 else np.concatenate(nonempty)
        contrib = table[flat]  # [n_flat, c]
        mask = lens > 0
        starts = np.zeros(int(mask.sum()), dtype=np.int64)
        np.cumsum(lens[mask][:-1], out=starts[1:])
        out[mask] = np.add.reduceat(contrib, starts, axis=0)
    return out, lens


def _softmax(logits: np.ndarray) -> np.ndarray:
    z = logits - logits.max(axis=1, keepdims=True)
    e = np.exp(z)
    return e / e.sum(axis=1, keepdims=True)


def score_langid(
    df: DataFrame,
    model: LangIdModel,
    text_col: str = "text",
    lang_col: str = "lang",
    conf_col: str = "lang_conf",
) -> DataFrame:
    """Append the predicted language tag and its softmax confidence —
    map-only (JVM feature projection + one Arrow kernel), no shuffle
    at any scale.  Docs with NO features (empty text) predict
    ``unknown`` at confidence 0."""
    w, b, labels = model.weights, model.bias, list(model.labels)
    out_schema = StructType(
        [
            StructField("lang", StringType()),
            StructField("conf", DoubleType()),
        ]
    )

    @F.pandas_udf(out_schema)
    def predict(feats: pd.Series) -> pd.DataFrame:
        sums, lens = _segment_sums_2d(feats.values, w)
        probs = _softmax(sums + b[None, :])
        idx = probs.argmax(axis=1)
        conf = probs[np.arange(len(idx)), idx]
        langs = np.asarray(labels, dtype=object)[idx]
        empty = lens == 0
        langs[empty] = "unknown"
        conf = np.where(empty, 0.0, conf)
        return pd.DataFrame({"lang": langs, "conf": conf})

    pred = predict(char_ngram_features(F.col(text_col), model.n_buckets))
    return df.withColumn(lang_col, pred["lang"]).withColumn(
        conf_col, pred["conf"]
    )


def train_langid(
    labeled: DataFrame,
    text_col: str = "text",
    label_col: str = "label",
    n_buckets: int = 1 << 16,
    n_iters: int = 60,
    lr: float = 1.0,
    l2: float = 1e-6,
    tol: float = 1e-4,
) -> LangIdModel:
    """Fit the softmax classifier on (text, label) rows.

    Per iteration: one map-only Arrow residual pass (per-doc
    ``p − onehot(y)`` class vectors) + ONE shuffle of per-partition
    gradient partials keyed by feature bucket (≤ ``n_buckets`` rows
    per task after map-side combine, each carrying ``n_classes``
    per-class sums) + a driver-side dense update.  The class list is
    the SORTED distinct labels (deterministic class indexing).  Stops
    early on a relative loss plateau."""
    labels = sorted(
        r[0]
        for r in labeled.select(label_col).distinct().collect()
        if r[0] is not None
    )
    if len(labels) < 2:
        raise ValueError(f"need >= 2 distinct labels, got {labels}")
    c = len(labels)
    label_idx = {t: i for i, t in enumerate(labels)}
    idx_expr = None
    for t, i in label_idx.items():
        idx_expr = (
            F.when(F.col(label_col) == t, F.lit(i))
            if idx_expr is None
            else idx_expr.when(F.col(label_col) == t, F.lit(i))
        )
    # NULL-label rows carry no supervision signal; the class list
    # above already skipped them, so drop them here too — otherwise
    # __y is NULL and the residual kernel's int cast crashes mid-train
    feats = (
        labeled.filter(F.col(label_col).isNotNull())
        .select(
            idx_expr.cast("int").alias("__y"),
            char_ngram_features(F.col(text_col), n_buckets).alias("__f"),
        )
        .persist()
    )
    try:
        n = feats.count()
        if n == 0:
            raise ValueError("empty training set")
        w = np.zeros((n_buckets, c), dtype=np.float64)
        b = np.zeros(c, dtype=np.float64)
        prev_loss = math.inf
        resid_schema = StructType(
            [
                StructField("r", ArrayType(DoubleType(), False)),
                StructField("l", DoubleType()),
            ]
        )
        for _ in range(n_iters):
            w_cur, b_cur = w, b

            @F.pandas_udf(resid_schema)
            def resid(
                feats_s: pd.Series, ys: pd.Series
            ) -> pd.DataFrame:
                sums, _lens = _segment_sums_2d(feats_s.values, w_cur)
                probs = _softmax(sums + b_cur[None, :])
                y = ys.to_numpy(dtype=np.int64)
                r = probs.copy()
                r[np.arange(len(y)), y] -= 1.0
                loss = -np.log(
                    np.maximum(probs[np.arange(len(y)), y], 1e-12)
                )
                return pd.DataFrame(
                    {"r": [row.tolist() for row in r], "l": loss}
                )

            scored = feats.select(
                "__f", resid(F.col("__f"), F.col("__y")).alias("__rl")
            ).select(
                "__f",
                F.col("__rl.r").alias("__r"),
                F.col("__rl.l").alias("__l"),
            )
            # sentinel bucket -1 carries the ONCE-counted per-doc
            # residual (bias gradient) and loss, so one groupBy
            # yields gradient + bias + loss together
            agg = scored.select(
                F.explode(
                    F.concat(F.array(F.lit(-1)), F.coalesce("__f", F.array()))
                ).alias("bucket"),
                "__r",
                "__l",
            )
            # DECIMAL-exact partial sums (the engine's standard
            # discipline): the gradient is bit-identical on ANY
            # partitioning, so training is reproducible — plain
            # double sums drift in the last bits with shuffle order
            # and the drift compounds over iterations
            # toPandas, not collect: with Arrow on, the (≤ n_buckets)
            # gradient rows arrive as columns instead of one Python
            # Row each — the Row path was ~30% of an iteration
            pdf = (
                agg.groupBy("bucket")
                .agg(
                    F.array(
                        *[
                            F.sum(
                                F.col("__r")[i].cast("decimal(38,18)")
                            )
                            .cast("double")
                            .alias(f"g{i}")
                            for i in range(c)
                        ]
                    ).alias("g"),
                    F.sum(F.col("__l").cast("decimal(38,18)"))
                    .cast("double")
                    .alias("l"),
                )
                .toPandas()
            )
            bucket = pdf["bucket"].to_numpy(dtype=np.int64)
            g = np.array(pdf["g"].tolist(), dtype=np.float64).reshape(-1, c)
            grad = np.zeros((n_buckets, c), dtype=np.float64)
            gb = np.zeros(c, dtype=np.float64)
            loss = 0.0
            sentinel = bucket == -1
            if sentinel.any():
                gb = g[sentinel][0]
                loss = float(pdf["l"].to_numpy()[sentinel][0]) / n
            grad[bucket[~sentinel]] = g[~sentinel]
            w = w - lr * (grad / n + l2 * w)
            b = b - lr * gb / n
            if prev_loss - loss < tol * max(prev_loss, 1e-12):
                break
            prev_loss = loss
        return LangIdModel(
            weights=w, bias=b, labels=labels, n_buckets=n_buckets
        )
    finally:
        feats.unpersist()


def save_langid_model(
    spark: SparkSession, model: LangIdModel, path: str
) -> None:
    """Persist as a parquet of (bucket, per-class weights) non-zero
    rows plus a one-row meta file — written THROUGH Spark (any
    Hadoop-visible filesystem), same layout discipline as the quality
    model."""
    nz = np.flatnonzero(np.any(model.weights != 0.0, axis=1))
    rows = [
        (int(bkt), [float(x) for x in model.weights[bkt]]) for bkt in nz
    ]
    spark.createDataFrame(
        rows or [(0, [0.0] * len(model.labels))],
        "bucket int, weights array<double>",
    ).repartition(1).write.mode("overwrite").parquet(f"{path}/weights")
    meta = json.dumps(
        {
            "bias": [float(x) for x in model.bias],
            "labels": list(model.labels),
            "n_buckets": model.n_buckets,
            "n_nonzero": int(len(nz)),
        }
    )
    spark.createDataFrame([(meta,)], "meta string").repartition(
        1
    ).write.mode("overwrite").text(f"{path}/meta")


def load_langid_model(spark: SparkSession, path: str) -> LangIdModel:
    meta = json.loads(
        spark.read.text(f"{path}/meta").collect()[0]["value"]
    )
    labels = list(meta["labels"])
    w = np.zeros((int(meta["n_buckets"]), len(labels)), dtype=np.float64)
    for row in spark.read.parquet(f"{path}/weights").collect():
        w[row["bucket"]] = row["weights"]
    return LangIdModel(
        weights=w,
        bias=np.asarray(meta["bias"], dtype=np.float64),
        labels=labels,
        n_buckets=int(meta["n_buckets"]),
    )
