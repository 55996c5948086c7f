"""Model-based quality filtering — the fastText-style classifier pass.

Every serious pre-training pipeline runs a *learned* quality filter on
top of the heuristic ones (GPT-3 trained a logistic classifier on
WebText-vs-CommonCrawl; CCNet scores with a language model; LLaMA /
RefinedWeb use fastText classifiers).  The distributed essence of all
of them is the same: per-token class statistics (one aggregation pass),
a per-token weight table, and a map-side scoring join.  Multinomial
Naive Bayes with add-one smoothing IS that essence with a closed-form
"training" step — the whole fit is ONE ``groupBy(token)`` aggregate, so
it scales exactly like word-count and needs no gradient loop.

Float determinism: the per-token log-likelihood-ratio weight is
quantized to integer **micro-nats** (``round(1e6 · w)`` as bigint) the
moment it is computed, so the per-document score is a SUM OF BIGINTS —
order-independent under any partitioning, replayable bit-for-bit by an
external SQL oracle.  (A double sum over hundreds of tokens would be
partition-order dependent; the ln() itself is evaluated once per
*vocabulary entry*, not per occurrence, keeping any last-ulp libm
variance confined to a V-sized surface that the quantization makes
vanishingly unlikely to observe.)

Scale shape (100 TB):

* token explode — map-only, corpus-linear;
* class-conditional counts — ``groupBy(token)`` with map-side partial
  aggregation (the classic word-count plan; hot stopwords combine
  before the exchange);
* corpus totals (T1, T0, V, N1, N0) — a 1-row aggregate, attached via a
  broadcast of one row;
* scoring — occurrences ⋈ weights on the token (high-entropy key),
  then ``groupBy(doc)`` bigint sum.  The weight table is
  vocabulary-sized, NOT corpus-sized, so at 100 TB it is still a
  few-GB side that AQE will often broadcast outright.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .parallelism import spread


def nb_quality_score(df: DataFrame, text_col: str, id_col: str,
                     label_col: str) -> DataFrame:
    """Train the NB filter on ``df``'s own labels and score every
    document: ``doc_id, label, n_tokens, score, pred`` with ``score``
    the bigint micro-nat log-odds (prior + Σ token weights) and
    ``pred = 1`` iff ``score > 0``.

    Train-and-score-in-place matches how pipeline quality filters are
    *evaluated* before deployment (fit on the labeled slice, inspect
    the score distribution on the same corpus); a deployment split is
    the same plan with two inputs.
    """
    from .text import tokens

    # ONE tokenize+explode feeds both the training counts and the
    # scoring join (the two-pass form re-scanned and re-tokenized the
    # corpus; Catalyst does not CSE across DataFrame references, so the
    # shared subtree must be materialized explicitly).  Weight math is
    # unchanged — identical counts, identical micro-nat quantization.
    occ = (spread(df)
           .select(F.col(id_col).alias("doc_id"),
                   F.col(label_col).cast("int").alias("y"),
                   F.explode(tokens(F.col(text_col))).alias("token"))
           .localCheckpoint(eager=True))
    counts = (occ.groupBy("token")
              .agg(F.sum("y").cast("long").alias("c1"),
                   F.sum(1 - F.col("y")).cast("long").alias("c0")))
    totals = counts.agg(F.sum("c1").alias("t1"), F.sum("c0").alias("t0"),
                        F.count(F.lit(1)).alias("v"))
    wexpr = (F.log((F.col("c1") + 1) / (F.col("t1") + F.col("v")))
             - F.log((F.col("c0") + 1) / (F.col("t0") + F.col("v"))))
    weights = (counts.crossJoin(F.broadcast(totals))
               .select("token", F.round(wexpr * 1e6).cast("long").alias("w")))
    prior = (df.agg(
        F.sum(F.col(label_col).cast("int")).alias("n1"),
        F.sum(1 - F.col(label_col).cast("int")).alias("n0"))
        .select(F.round((F.log(F.col("n1")) - F.log(F.col("n0")))
                        * 1e6).cast("long").alias("prior")))

    # weights are VOCAB-sized (the model, not the corpus) — broadcast
    # them so the token stream never shuffles: the probe is map-side
    # over the checkpointed occ and the only corpus exchange left is
    # the per-doc sum.  (A shuffle join here repartitioned the whole
    # token stream by token — corpus-sized — to meet a model-sized
    # build side.  At the 100 M+-token-vocab extreme, hash-bucket the
    # features first, fastText-style; the broadcast is the right
    # default for a trained filter's vocabulary.)
    doc_sum = (occ.join(F.broadcast(weights), "token")
               .groupBy("doc_id")
               .agg(F.sum("w").alias("wsum"),
                    F.count(F.lit(1)).alias("n_tokens")))
    base = df.select(F.col(id_col).alias("doc_id"),
                     F.col(label_col).cast("int").alias("label"))
    return (base.join(doc_sum, "doc_id", "left")
            .crossJoin(F.broadcast(prior))
            .select("doc_id", "label",
                    F.coalesce(F.col("n_tokens"), F.lit(0))
                    .cast("long").alias("n_tokens"),
                    (F.col("prior") + F.coalesce(F.col("wsum"), F.lit(0)))
                    .cast("long").alias("score"))
            .withColumn("pred", (F.col("score") > 0).cast("int")))
