"""DuckDB oracles of the LLM data-ops queries against the engine, on
small synthetic tables that pin cases the committed test sets miss."""

from __future__ import annotations

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from tiflink_spark.queries import get_registry


def test_minhash_lsh_oracle_keys_bands_by_index(spark, tmp_path):
    """LSH pairs two docs only when the SAME band matches. Docs 0 and 1
    share no band, but doc 0's band-0 signature rows equal doc 1's
    band-1 rows; a band key without the band index would pair them.
    Docs 2 and 3 are exact duplicates and pair in every band."""
    texts = [
        "line row scan vector group",
        "row scan vector filter line",
        "spark stream merge data key",
        "spark stream merge data key",
    ]
    pq.write_table(
        pa.table({"doc_id": pa.array(range(len(texts)), pa.int64()), "text": texts}),
        tmp_path / "documents.parquet",
    )
    spec = get_registry()["dedup_minhash_lsh"]
    engine = {(r.doc_a, r.doc_b) for r in spec.fn(spark, str(tmp_path)).collect()}
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{tmp_path}/documents.parquet')"
    )
    oracle = set(map(tuple, con.execute(spec.oracle).fetchall()))
    assert engine == {(2, 3)}
    assert oracle == engine
