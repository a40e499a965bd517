"""Train/eval decontamination: flag training documents that share any
k-word shingle with an evaluation/benchmark set.

The standard LLM-training hygiene step (GPT-3 appendix C / PaLM-style
13-gram overlap): a training document containing a verbatim n-gram
from a benchmark is contamination — it inflates eval scores and must
be dropped or scrubbed before training. No reference-repo analogue
(the reference crawls and serves; it never trains) — this is part of
the training-data-pipeline surface the build brief adds on top.

Scale shape (the reason this is Spark-trivial and 100 TB-safe):

* the EVAL side is benchmarks — thousands of documents, at most a few
  million distinct shingles. Hashed to longs it is a few MB: always
  broadcast, never shuffled.
* the TRAIN side is the 100 TB corpus — but it only flows through a
  projection + explode + broadcast-hash-join (map-side, no exchange)
  into ONE per-doc aggregate whose partial (map-side combine) reduces
  every document to a single row before the only shuffle in the plan.
* ``explode_outer`` keeps zero-shingle documents (shorter than k
  tokens) in that same single pass — trivially uncontaminated rows,
  not silently dropped, and no second scan or repair join needed.

k=13 is the published convention for real corpora; the default here
stays parameterizable and the registered query uses k=3 because the
synthetic testdata documents are dozens of words, not thousands.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from crawler_spark.functions import text as X
from crawler_spark.operators.shingles import shingle_rows


def decontaminate(
    train: DataFrame,
    eval_set: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 13,
) -> DataFrame:
    """Per training document: how many of its distinct k-word shingles
    appear anywhere in ``eval_set``, and whether that count is > 0.

    Returns (id_col, n_shingles, n_contaminated, contaminated). A
    document with fewer than k tokens has n_shingles = 0 and is
    uncontaminated by definition (still present in the output).
    ``eval_set`` must carry ``id_col`` as well as ``text_col``: both
    sides go through the same shingle kernel, which reads
    ``(id_col, text_col)``, and a frame without it fails at plan build.
    Matching is on xxhash64 of the shingle string — longs broadcast
    and compare cheaper than 50-100 byte shingles, and a 64-bit
    collision only ever flags a FALSE POSITIVE (safe direction for a
    filter that deletes training data).
    """
    # both sides' tokenize→shingle→distinct projections run in the
    # Arrow kernel (operators/shingles.py, guide §4.2) — row-identical
    # to the old explode/explode_outer expression forms
    # (tests/test_shingles.py); hashing stays JVM-side
    eval_grams = (
        shingle_rows(eval_set, text_col=text_col, id_col=id_col, k=shingle_k)
        .select(F.xxhash64("s").alias("g"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    grams = shingle_rows(
        train, text_col=text_col, id_col=id_col, k=shingle_k, keep_empty=True
    ).select(
        id_col,
        # keep_empty mirrors explode_outer: a sub-k doc contributes one
        # (id, NULL) row; xxhash64(NULL) is the seed, not NULL — guard
        # so the placeholder row can never match an eval gram
        F.when(F.col("s").isNotNull(), F.xxhash64("s")).alias("g"),
    )
    marked = grams.join(F.broadcast(eval_grams), "g", "left")
    return (
        marked.groupBy(id_col)
        .agg(
            F.count("g").alias("n_shingles"),
            F.count("hit").alias("n_contaminated"),
        )
        .withColumn("contaminated", F.col("n_contaminated") > 0)
    )


def contaminated_spans(
    train: DataFrame,
    eval_set: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_len: int = 30,
    stride: int = 7,
) -> DataFrame:
    """Character-level EXACT-SUBSTRING contamination spans (the
    scrub-not-drop companion to ``decontaminate``, after the
    exact-substring criterion of Lee et al. 2022, arXiv:2107.06499):
    every stride-sampled offset in a training document whose
    ``span_len``-char window appears verbatim anywhere in the eval
    set. Returns (id_col, pos) — 1-based char offsets, so callers can
    scrub the span rather than delete the document.

    Detection guarantee: eval windows slide at stride 1, train windows
    sample at ``stride`` — any shared substring of length
    >= span_len + stride - 1 is caught regardless of alignment (some
    sampled window must fall fully inside it), at 1/stride the
    corpus-side row blowup of full sliding windows.

    Scale shape mirrors ``decontaminate``: eval side is benchmarks —
    its stride-1 window set totals ~|eval text| strings and
    broadcasts; the corpus side is a projection + bounded explode
    (len/stride rows per doc) into a broadcast-hash join with NO
    corpus shuffle; string equality on the join key IS the
    verification, so the output carries no hash false-positives.
    """
    ev = (
        eval_set.select(
            F.explode(F.sequence(
                F.lit(1),
                F.greatest(
                    F.length(text_col) - (span_len - 1), F.lit(0)),
                F.lit(1),
            )).alias("i"),
            F.col(text_col).alias("__t"),
        )
        .select(F.expr(f"substring(__t, i, {int(span_len)})").alias("s"))
        .distinct()
    )
    tr = (
        train.select(
            F.col(id_col),
            F.explode(F.sequence(
                F.lit(1),
                F.greatest(
                    F.length(text_col) - (span_len - 1), F.lit(0)),
                F.lit(int(stride)),
            )).alias("pos"),
            F.col(text_col).alias("__t"),
        )
        .select(
            id_col, "pos",
            F.expr(f"substring(__t, pos, {int(span_len)})").alias("s"),
        )
    )
    return (
        tr.join(F.broadcast(ev), "s")
        .select(id_col, F.col("pos").cast("long").alias("pos"))
    )
