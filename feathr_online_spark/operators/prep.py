"""End-to-end training-corpus preparation: the composition every LLM data
pipeline runs before tokenization — language filter → quality threshold →
exact-dedup survivor selection → (optionally) near-dup survivor selection.
Benchmark decontamination is a separate step a caller runs on the result
(operators.dedup.decontaminate).

Each stage is one of the already-gated primitives (operators/text.py,
operators/dedup.py); this module owns the COMPOSITION so the whole prep is
one Catalyst plan: the filters are map-side and run before the dedup
shuffle, so the (fingerprint, id) exchange only carries rows that survived
the cheap predicates — at 100 TB that ordering is the difference between
shuffling the full corpus and shuffling the keep-set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from feathr_online_spark.operators.dedup import dedup_survivors
from feathr_online_spark.operators.text import lang_id, quality_score_bp


def prepare_corpus(
    df: DataFrame,
    text_col: str,
    id_col: str,
    langs: tuple[str, ...] = ("en",),
    min_quality_bp: int = 0,
    near_dup_pairs: DataFrame | None = None,
) -> DataFrame:
    """Surviving documents with their (lang_pred, quality_bp) annotations.

    Stage order is deliberate: map-side predicates (language, quality) first,
    exact dedup second (shuffle only the keep-set's fingerprints), then the
    optional near-dup survivor anti-join.

    r6 shape — decide on small rows, annotate survivors only: the decision
    pass computes (id, lang, quality, fingerprint) once over the corpus,
    shuffles only (fingerprint, id) to pick the min-id survivor per content
    group, and the surviving ids semi-join back onto the RAW rows, whose
    (lang_pred, quality_bp) annotations are then recomputed for the
    survivor set alone (deterministic functions of text — identical
    values).  The r5 composition annotated the full corpus TWICE: the
    exact-dedup semi-join's fingerprint leg and its output leg each
    re-evaluated lang_id + quality over every row (~2× the map-side cost,
    measured ~half the gate wall at sf1.0)."""
    from feathr_online_spark.operators.text import content_fingerprint, words

    ann = {"lang_pred": lang_id(F.col(text_col)), "quality_bp": quality_score_bp(text_col)}
    # Decision pass evaluated exactly ONCE per row: the language and quality
    # scorers share one tokenization (transform-over-singleton let-binding,
    # the q_text_repetition rationale) and the struct lands in its own
    # projection (multi-referenced non-cheap alias → no CollapseProject
    # inline).  Deliberately NO .filter(pred): PushDownPredicate would
    # substitute the aliased annotate expressions into the pushed filter and
    # evaluate them twice per row — instead the predicate folds into the
    # survivor aggregation as min(when(keep, id)) (min ignores nulls, and a
    # fingerprint group with no kept row yields null → dropped), which is
    # the same keep-set with nothing for the optimizer to duplicate.
    bound = df.select(
        F.col(id_col),
        F.element_at(F.transform(F.array(words(F.col(text_col))), lambda wv: F.struct(
            lang_id(F.col(text_col), words_arr=wv).alias("lang_pred"),
            quality_score_bp(text_col, words_arr=wv).alias("quality_bp"),
        )), 1).alias("__A"),
        content_fingerprint(F.col(text_col)).alias("__fp"),
    )
    keep_pred = (F.col("__A.lang_pred").isin(*langs)
                 & (F.col("__A.quality_bp") >= min_quality_bp))
    dec = bound.select(id_col, "__fp", keep_pred.alias("__keep"))
    keep = (
        dec.groupBy("__fp")
        .agg(F.min(F.when(F.col("__keep"), F.col(id_col))).alias(id_col))
        .filter(F.col(id_col).isNotNull())
        .select(id_col)
    )
    kept = df.join(keep, id_col, "left_semi").withColumns(ann)
    if near_dup_pairs is not None:
        kept = dedup_survivors(kept, near_dup_pairs, id_col)
    return kept
