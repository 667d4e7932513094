"""Differential test: every registered query vs its DuckDB oracle at
sf0.001 — the local pre-flight for the driver's t2 gate (SURVEY.md §5.3).

Keys without an oracle get a smoke run (executes + stable schema).
"""

from __future__ import annotations

import pytest

from hbasemapreduce_spark.registry import all_specs

from .conftest import SF_DIR, assert_frames_match

SPECS = all_specs()
ORACLE_KEYS = [k for k, s in SPECS.items() if s.oracle is not None]
ROWS_ONLY_KEYS = [k for k, s in SPECS.items() if s.oracle is None]


@pytest.mark.parametrize("key", ORACLE_KEYS)
def test_oracle_match(spark, oracle, key):
    spec = SPECS[key]
    spark_pdf = spec.fn(spark, SF_DIR).toPandas()
    duck_pdf = oracle.execute(spec.oracle).df()
    assert_frames_match(spark_pdf, duck_pdf, key)


@pytest.mark.parametrize("key", ROWS_ONLY_KEYS)
def test_rows_only_runs(spark, key):
    spec = SPECS[key]
    df = spec.fn(spark, SF_DIR)
    n = df.count()
    assert n >= 0
    assert len(df.schema.fields) > 0


# key -> (table, column) to plant NULLs in: a NULL row contributes
# nothing (no audio frames, no Gram terms), which is what each DuckDB
# oracle does with it.  The testdata has no NULLs, so this copies it.
NULL_ROW_CASES = {
    "x_multimodal_audio_energy": ("documents", "text"),
    "x_emb_gram_gemm": ("embeddings", "embedding"),
}


@pytest.mark.parametrize("key", sorted(NULL_ROW_CASES))
def test_oracle_match_with_null_rows(spark, tmp_path, key):
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    table, column = NULL_ROW_CASES[key]
    t = pq.read_table(f"{SF_DIR}/{table}.parquet")
    values = [None if i % 7 == 3 else v for i, v in enumerate(t[column].to_pylist())]
    i = t.schema.get_field_index(column)
    t = t.set_column(i, t.schema.field(i), pa.array(values, t.schema.field(i).type))
    pq.write_table(t, tmp_path / f"{table}.parquet")

    con = duckdb.connect()
    try:
        con.execute(
            f"CREATE VIEW {table} AS SELECT * FROM read_parquet('{tmp_path}/{table}.parquet')"
        )
        duck_pdf = con.execute(SPECS[key].oracle).df()
    finally:
        con.close()
    assert_frames_match(SPECS[key].fn(spark, str(tmp_path)).toPandas(), duck_pdf, key)
