"""SQL-facing text/cleaning functions: register once, then use from
``spark.sql`` — exposes the training-data text layer to SQL users.

    register_text_functions(spark)
    spark.sql("SELECT url, lang_id(text), lang_id_profiles(text) FROM pages")
    spark.sql("SELECT ngram_jaccard(a, b, 3) FROM pairs")

Functions:

    lang_id(text) → string            marker/script heuristic (synthetic
                                      fast-path, operators/text.py)
    lang_id_profiles(text) → string   natural-text trigram-profile ID
                                      (operators/lang_profiles.py)
    ngram_jaccard(a, b, n) → double   exact char-n-gram Jaccard of a pair
                                      (hashed kernel; the LSH verify path)

All are ``arrow_udf``s over the same whole-batch kernels the DataFrame
operators use — no per-row Python. ``ngram_jaccard`` is the UDF
``dedup.ngram_jaccard_pairs`` calls; a column ``n`` is scored per
distinct value, and a NULL ``n`` scores NULL.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, functions as F
from pyspark.sql.types import StringType

from ..operators.dedup import _ngram_jaccard


@F.arrow_udf(StringType())
def _lang_id(texts):
    from ..operators.text import _lang_id_batch

    return _lang_id_batch(texts)


@F.arrow_udf(StringType())
def _lang_id_profiles(texts):
    from ..operators.lang_profiles import _profile_lang

    return _profile_lang(texts)


def register_text_functions(spark: SparkSession) -> None:
    """Idempotent registration of the SQL text-function surface."""
    spark.udf.register("lang_id", _lang_id)
    spark.udf.register("lang_id_profiles", _lang_id_profiles)
    spark.udf.register("ngram_jaccard", _ngram_jaccard)
