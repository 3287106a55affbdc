"""Pin the folded-SQL dedup builders to the Column forms they replace.

``shingle_rows`` and ``minhash_band_rows`` emit pre-built SQL purely to
cut driver-side build cost (~76 ms / ~130 ms of py4j dispatch per call,
x8 / x6 call sites). They are only sound if the OPTIMIZED plan is
byte-identical to what Catalyst produces from the original Column forms
— same split regex, same window leads, same seed-prefixed md5 min
aggregates, same band structs — so every signature, band key, and
candidate pair is the same computation. A Spark upgrade or an edit to
either builder that breaks the equivalence fails here first.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from nyc_taxi_data_pipeline_elt_spark.operators.dedup import (
    LSH_BANDS,
    LSH_ROWS,
    MINHASH_K,
    incremental_minhash_dedup,
    lsh_band_keys,
    minhash_band_rows,
    shingle_rows,
)

SF_DIR = "/root/testdata/sf0.001"


def _optimized(df) -> str:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return re.sub(r"#\d+", "#", plan)


def _docs(spark):
    return spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c"), (3, "x"), (4, None)],
        "doc_id: long, text: string",
    )


def _shingle_rows_column_form(docs, n=3, id_col="doc_id", text_col="text"):
    # the pre-fold implementation, verbatim
    tok = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.trim(F.col(text_col)), "\\s+")).alias(
            "pos", "tk"
        ),
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    leads = [F.lead("tk", j).over(w) for j in range(1, n)]
    return (
        tok.select(
            F.col(id_col),
            F.concat_ws(" ", F.col("tk"), *leads).alias("s"),
            leads[-1].alias("_guard"),
        )
        .filter(F.col("_guard").isNotNull())
        .select(id_col, "s")
    )


def test_shingle_rows_plan_matches_column_form(spark):
    docs = _docs(spark)
    for n in (2, 3, 5):
        assert _optimized(shingle_rows(docs, n=n)) == _optimized(
            _shingle_rows_column_form(docs, n=n)
        )


def test_shingle_rows_custom_cols_plan_matches(spark):
    docs = spark.createDataFrame(
        [(1, "p q r s")], "new_doc_id: long, body: string"
    )
    assert _optimized(
        shingle_rows(docs, n=3, id_col="new_doc_id", text_col="body")
    ) == _optimized(
        _shingle_rows_column_form(
            docs, n=3, id_col="new_doc_id", text_col="body"
        )
    )


def test_minhash_band_rows_plan_matches_column_form(spark):
    docs = _docs(spark)
    sh = _shingle_rows_column_form(docs, n=3)
    sig = sh.groupBy("doc_id").agg(
        *[
            F.min(
                F.md5(F.concat(F.lit(f"{seed}|"), F.col("s")))
            ).alias(f"mh{seed}")
            for seed in range(MINHASH_K)
        ]
    )
    col_form = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"), key.alias("band_key")
                    )
                    for b, key in enumerate(lsh_band_keys())
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.band_idx", "band.band_key")
    assert _optimized(minhash_band_rows(docs)) == _optimized(col_form)


def test_shingle_rows_parser_mode_independent(spark):
    """ADVICE r13: the folded SQL's split regex must mean the same thing
    under spark.sql.parser.escapedStringLiterals=true (the chr(92) form;
    a '\\\\s+' string literal would silently flip to a different
    pattern). Pin row equality under both parser modes."""
    docs = _docs(spark)
    want = sorted(map(tuple, shingle_rows(docs, n=3).collect()))
    key = "spark.sql.parser.escapedStringLiterals"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "true")
        got = sorted(map(tuple, shingle_rows(docs, n=3).collect()))
    finally:
        spark.conf.set(key, prev)
    assert got == want and len(want) > 0


def test_minhash_band_rows_values_roundtrip(spark):
    # belt and braces on top of plan identity: actual rows equal
    docs = _docs(spark)
    got = sorted(
        (r.doc_id, r.band_idx, r.band_key)
        for r in minhash_band_rows(docs).collect()
    )
    assert len(got) == 2 * LSH_BANDS  # docs 1 and 2 have >= 3 tokens
    # band keys are xxhash64 LONGS (r14, guide §2.3: 8-byte exchange
    # keys; results depend only on key equality, pinned by the oracle
    # parity suite)
    assert all(isinstance(k, int) for _, _, k in got)
    assert LSH_BANDS * LSH_ROWS == MINHASH_K


def test_incremental_dedup_rejects_md5_keyed_band_index(spark):
    # an index stored by an md5-keyed build: joining its hex-string keys
    # against xxhash64 longs would silently find no duplicates
    docs = _docs(spark)
    stale = minhash_band_rows(docs).withColumn(
        "band_key", F.md5(F.col("band_key").cast("string"))
    )
    with pytest.raises(TypeError, match="rebuild the band index"):
        incremental_minhash_dedup(docs, stale)
    dups, _ = incremental_minhash_dedup(docs, minhash_band_rows(docs))
    assert {(r.new_doc_id, r.corpus_doc_id) for r in dups.collect()} >= {(1, 1)}
