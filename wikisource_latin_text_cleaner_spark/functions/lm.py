"""Distributed KenLM-style character-bigram LM: train ON the corpus being
filtered, then score each document's perplexity under the trained model.

functions/perplexity.py ships a frozen seed-trained matrix (the reference-
fidelity path; no reference precedent, SURVEY.md §7.0). This module is the
corpus-scale counterpart: exact global bigram counts aggregated across the
cluster, add-one smoothing, and a scorer UDF closing over the (tiny)
trained matrix -- the shape a real web pipeline uses when the quality LM
must reflect the corpus distribution rather than a hand-picked seed.

Scale shape:
  * counting never explodes or shuffles the corpus: mapInPandas folds each
    partition into ONE flat (V*V)=1600-cell numpy count vector (one output
    row per partition, ~13 KB);
  * those per-partition vectors reduce JVM-side -- posexplode to
    (cell, count) rows and a groupBy(cell).sum partial-aggregates, so the
    driver collects exactly V*V rows no matter how many partitions the
    corpus has (100k-partition table -> still a 1600-row collect);
  * the trained matrix is ~12.8 KB -- broadcast inside the scorer UDF
    closure, same as the frozen model.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from .perplexity import V, _ids


def train_char_bigram_lm(df: DataFrame, text_col: str = "text") -> np.ndarray:
    """Exact corpus-wide bigram counts -> add-one-smoothed (V, V) log-prob
    matrix (row-normalized, natural log). Deterministic: counts are exact
    integers, so the result is independent of partitioning and task order.
    """

    def _count(iterator):
        counts = np.zeros(V * V, dtype=np.int64)
        for pdf in iterator:
            for t in pdf[text_col]:
                if t is not None and len(t) >= 2:
                    ids = _ids(t.lower())
                    counts += np.bincount(
                        ids[:-1] * V + ids[1:], minlength=V * V
                    )
        yield pd.DataFrame({"counts": [counts.tolist()]})

    per_part = df.select(text_col).mapInPandas(_count, schema="counts array<long>")
    cells = (
        per_part.select(F.posexplode("counts").alias("cell", "c"))
        .groupBy("cell")
        .agg(F.sum("c").alias("c"))
        .collect()
    )
    flat = np.zeros(V * V, dtype=np.float64)
    for r in cells:
        flat[r["cell"]] = r["c"]
    counts = flat.reshape(V, V) + 1.0  # add-one smoothing
    return np.log(counts / counts.sum(axis=1, keepdims=True))


def make_perplexity_udf(logp: np.ndarray):
    """Vectorized scorer under an arbitrary (V, V) log-prob matrix:
    exp(-mean bigram log-prob), inf for texts shorter than 2 chars
    (mirrors perplexity.perplexity exactly)."""
    mat = np.ascontiguousarray(logp, dtype=np.float64)

    @pandas_udf("double")
    def trained_ppx(texts: pd.Series) -> pd.Series:
        out = np.empty(len(texts), dtype=np.float64)
        for i, t in enumerate(texts):
            if not t or len(t) < 2:
                out[i] = np.inf
                continue
            ids = _ids(t.lower())
            out[i] = np.exp(-mat[ids[:-1], ids[1:]].mean())
        return pd.Series(out)

    return trained_ppx


def train_char_bigram_lm_by(
    df: DataFrame, label_col: str = "lang", text_col: str = "text"
):
    """Per-label corpus-trained models in ONE pass: supervised Naive-Bayes
    training (the fastText-supervised analog for this engine's 40-char
    feature space). Returns (models, priors): ``models[label]`` is the
    add-one-smoothed (V, V) log-prob matrix, ``priors[label]`` the doc
    fraction.

    Scale shape, same discipline as train_char_bigram_lm: each partition
    folds into one (V*V + 1)-cell vector PER LABEL SEEN (the +1 cell
    carries the partition's doc count, so priors ride the same reduce
    instead of a second corpus pass); JVM-side posexplode + groupBy
    partial-aggregates; the driver collects n_labels * 1601 rows no matter
    the corpus size. Deterministic: exact integer counts.
    """

    def _count(iterator):
        acc: dict = {}
        for pdf in iterator:
            for lab, t in zip(pdf[label_col], pdf[text_col]):
                if lab is None:
                    continue
                vec = acc.get(lab)
                if vec is None:
                    vec = acc[lab] = np.zeros(V * V + 1, dtype=np.int64)
                vec[V * V] += 1
                if t is not None and len(t) >= 2:
                    ids = _ids(t.lower())
                    vec[: V * V] += np.bincount(
                        ids[:-1] * V + ids[1:], minlength=V * V
                    )
        if acc:  # empty partitions yield nothing (an empty frame's
            # counts column has no dtype Arrow can map to list<long>)
            yield pd.DataFrame(
                {"label": list(acc),
                 "counts": [v.tolist() for v in acc.values()]}
            )

    per_part = df.select(label_col, text_col).mapInPandas(
        _count, schema="label string, counts array<long>"
    )
    rows = (
        per_part.select("label", F.posexplode("counts").alias("cell", "c"))
        .groupBy("label", "cell")
        .agg(F.sum("c").alias("c"))
        .collect()
    )
    flat: dict = {}
    for r in rows:
        flat.setdefault(r["label"], np.zeros(V * V + 1, dtype=np.float64))[
            r["cell"]
        ] = r["c"]
    if not flat:
        raise ValueError("training frame has no labeled rows")
    total_docs = sum(v[V * V] for v in flat.values())
    models, priors = {}, {}
    for lab, v in flat.items():
        counts = v[: V * V].reshape(V, V) + 1.0
        models[lab] = np.log(counts / counts.sum(axis=1, keepdims=True))
        priors[lab] = v[V * V] / total_docs
    return models, priors


def make_nb_classifier_udf(models: dict, priors: dict):
    """Vectorized Naive-Bayes label scorer: argmax over labels of
    (sum of bigram log-probs + log prior), scores rounded to 6dp BEFORE
    the argmax and ties broken by lexicographically smallest label --
    both choices exist so the decision is exactly re-derivable in SQL
    (ORDER BY score DESC, label ASC). Texts shorter than 2 chars carry no
    bigram evidence and fall back to the prior alone."""
    labels = sorted(models)
    tensor = np.ascontiguousarray(
        np.stack([models[lab] for lab in labels])
    )
    logpri = np.array([np.log(priors[lab]) for lab in labels])

    @pandas_udf("string")
    def nb_pred(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            if not t or len(t) < 2:
                scores = logpri
            else:
                ids = _ids(t.lower())
                scores = tensor[:, ids[:-1], ids[1:]].sum(axis=1) + logpri
            out.append(labels[int(np.argmax(np.round(scores, 6)))])
        return pd.Series(out)

    return nb_pred
