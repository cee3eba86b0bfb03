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

All are Arrow-batched UDFs (``arrow_udf`` for the two lang-id functions,
``pandas_udf`` for ``ngram_jaccard``) over the same whole-batch kernels
the DataFrame operators use — no per-row Python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import SparkSession, functions as F
from pyspark.sql.types import DoubleType, StringType


@F.arrow_udf(StringType())
def _lang_id(texts):
    from ..operators.text import _lang_id_batch

    return _lang_id_batch(texts)


@F.arrow_udf(StringType())
def _lang_id_profiles(texts):
    from ..operators.lang_profiles import _profile_lang

    return _profile_lang(texts)


def _ngram_jaccard_batch(a: pd.Series, b: pd.Series, n: pd.Series) -> pd.Series:
    if len(a) == 0:
        return pd.Series([], dtype=float)
    ks = n.unique()
    if len(ks) != 1:
        # ADVICE r3: silently scoring every row with n.iloc[0] would be
        # wrong for a COLUMN n — score per distinct n instead (each
        # group through the same batch kernel; literals still take the
        # single-pass fast path)
        out = pd.Series(np.zeros(len(a)), index=a.index)
        for kv in ks:
            m = (n == kv).values
            out[m] = _ngram_jaccard_batch(a[m], b[m], n[m]).values
        return out
    k = int(ks[0])
    from ..operators.dedup import _pairwise_jaccard_hashed

    return pd.Series(_pairwise_jaccard_hashed(a, b, k), index=a.index)


_ngram_jaccard = F.pandas_udf(_ngram_jaccard_batch, DoubleType())


def register_text_functions(spark: SparkSession) -> None:
    """Idempotent registration of the SQL text-function surface."""
    spark.udf.register("lang_id", _lang_id)
    spark.udf.register("lang_id_profiles", _lang_id_profiles)
    spark.udf.register("ngram_jaccard", _ngram_jaccard)
