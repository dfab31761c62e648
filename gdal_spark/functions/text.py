"""Text-analysis column functions for training-data pipelines.

Language-ID (stopword-marker heuristic), quality scoring, token
counting (whitespace + BPE-ish regex), and document fingerprinting —
all pure Spark SQL expressions (JVM-side, codegen), each with an exact
DuckDB-SQL mirror in ``__spark_entry__``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TOKENS = "split(text, ' ')"

# marker stopwords per language (tiny heuristic lexicons)
LANG_MARKERS = {
    "en": ("the", "a", "of", "and", "is"),
    "de": ("der", "die", "das", "und", "ist"),
    "fr": ("le", "la", "les", "et", "est"),
    "es": ("el", "la", "los", "y", "es"),
    "zh": ("de5", "shi4", "zai4", "he2", "le5"),
}

STOPWORDS = ("the", "a", "of", "and", "is", "to", "in")


def hstore_get_value(col: str, key: str) -> Column:
    """``HSTORE_GET_VALUE`` (``ogr/ogr_swq.h:65``; SQLite version
    ``ogrsqlitesqlfunctions.cpp:1066``): typed key lookup in a
    PostgreSQL-hstore-style ``'k=>v, k2=>v2'`` string, via the native
    ``str_to_map`` + ``element_at`` pair (SURVEY §2.2's intended
    mapping — no regexp, no UDF). Missing key → NULL, matching OGR."""
    m = f"str_to_map(regexp_replace({col}, ' *, *', ','), ',', '=>')"
    return F.expr(f"element_at({m}, '{key}')")


def _marker_count(lang: str) -> str:
    lst = ", ".join(f"'{w}'" for w in LANG_MARKERS[lang])
    return f"size(filter({TOKENS}, x -> x IN ({lst})))"


def lang_scores(docs: DataFrame) -> DataFrame:
    """Per-language marker counts + argmax prediction (ties → first in
    fixed lang order, deterministic)."""
    langs = list(LANG_MARKERS)
    cols = [F.expr(_marker_count(lg)).alias(f"score_{lg}") for lg in langs]
    df = docs.select("doc_id", *cols)
    # argmax via chained CASE (deterministic tie-break by order)
    best = f"score_{langs[0]}"
    pred = f"'{langs[0]}'"
    for lg in langs[1:]:
        pred = f"CASE WHEN score_{lg} > {best} THEN '{lg}' ELSE {pred} END"
        best = f"CASE WHEN score_{lg} > {best} THEN score_{lg} ELSE {best} END"
    return df.select("doc_id", *[f"score_{lg}" for lg in langs], F.expr(pred).alias("pred_lang"))


N_TOKENS = f"size({TOKENS})"
N_CHARS = "length(text)"
# BPE-ish token count: alpha runs, digit runs, single other non-space chars
BPE_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"
BPE_COUNT = f"size(regexp_extract_all(text, '{BPE_RE}', 0))"
STOPWORD_COUNT = (
    f"size(filter({TOKENS}, x -> x IN ({', '.join(repr(w) for w in STOPWORDS)})))"
)


FINGERPRINT = (
    f"md5(concat_ws(' ', array_sort(array_distinct({TOKENS}))))"
)


def fingerprints(docs: DataFrame) -> DataFrame:
    """Order-insensitive content fingerprint: md5 of the sorted distinct
    token set (binary/ASCII sort order, identical in DuckDB)."""
    return docs.select("doc_id", F.expr(FINGERPRINT).alias("fingerprint"))


def remove_boilerplate(
    docs: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    doc_id: str = "doc_id",
    seg_words: int = 8,
    max_df: int = 5,
) -> DataFrame:
    """CCNet-style boilerplate removal: segment each document into
    fixed ``seg_words``-word windows, count each segment's document
    frequency WITHIN its group (domain/source), drop segments shared
    by ≥ ``max_df`` documents (headers, navs, cookie banners), and
    reassemble the survivors in order.

    Returns (doc_id, n_segments, n_kept, cleaned). Scale shape: one
    explode + one (group, segment) aggregation + one equi-join + one
    per-doc regroup — all JVM-side (no UDF anywhere); segment df is a
    classic map-side-combinable count, and the join key (group,
    segment) is exactly the aggregation key, so AQE reuses the
    shuffle. The web-pipeline precedent is CCNet's per-shard paragraph
    dedup; the reference has no text surface (this is part of the
    LLM-data-pipeline extension)."""
    segs_expr = (
        f"transform(sequence(0, cast(ceil(size(split({text_col}, ' ')) /"
        f" {float(seg_words)}) as int) - 1),"
        f" i -> concat_ws(' ', slice(split({text_col}, ' '),"
        f" i * {seg_words} + 1, {seg_words})))"
    )
    ex = docs.select(
        doc_id, group_col, F.posexplode(F.expr(segs_expr)).alias("chunk", "seg")
    )
    seg_df = ex.groupBy(group_col, "seg").agg(
        F.countDistinct(doc_id).alias("df")
    )
    kept = ex.join(seg_df, [group_col, "seg"]).filter(F.col("df") < max_df)
    re = kept.groupBy(doc_id).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.concat_ws(
            " ",
            F.expr("transform(sort_array(collect_list(struct(chunk, seg))), x -> x.seg)"),
        ).alias("cleaned"),
    )
    tot = ex.groupBy(doc_id).agg(F.count(F.lit(1)).alias("n_segments"))
    return (
        docs.select(doc_id)
        .join(tot, doc_id)
        .join(re, doc_id, "left")
        .select(
            doc_id,
            "n_segments",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.md5(F.coalesce("cleaned", F.lit(""))).alias("fp"),
        )
    )
