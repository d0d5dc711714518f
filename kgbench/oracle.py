"""DuckDB oracle and triple-set checks.

The expected triples come from ``fixtures.kg_oracle.kg_triples_sql``, the
in-repo full-pipeline oracle, fed the same generated parquet input as the
engine. Committed triples are read straight from the sink's parquet files,
so every check sees exactly what ``GraphSink`` wrote.
"""

from __future__ import annotations

import re

import duckdb

from omop2obo_spark.fixtures.kg_oracle import kg_triples_sql

TRIPLE_COLS = "conv_id, turn_idx::INTEGER AS turn_idx, subj, pred, obj"

# kg_triples_sql derives its transcripts from a ``documents`` table (stage 0
# mirrors transcripts_from_documents). For a transcripts input the stage-0
# CTEs are swapped for a plain read; every later stage only sees ``tr``.
_STAGE0 = re.compile(r"doctoks AS \(.*?\n\),\n(?=-- stage 1a)", re.S)


def oracle_sql(include_sim: bool, from_transcripts: bool,
               final_select: str | None = None) -> str:
    sql = kg_triples_sql(include_sim=include_sim, final_select=final_select)
    if from_transcripts:
        sql, n = _STAGE0.subn(
            "tr AS MATERIALIZED (SELECT conv_id, turn_idx, text FROM transcripts),\n", sql)
        if n != 1:
            raise RuntimeError("kg_triples_sql stage 0 changed shape; update kgbench/oracle.py")
    return sql


def load_oracle(con: duckdb.DuckDBPyConnection, include_sim: bool,
                from_transcripts: bool) -> int:
    """Materialize the oracle triple set as table ``oracle``. The input
    must already be registered as view ``documents`` or ``transcripts``."""
    con.execute(
        "CREATE OR REPLACE TABLE oracle AS SELECT " + TRIPLE_COLS + " FROM ("
        + oracle_sql(include_sim, from_transcripts) + ")"
    )
    return con.execute("SELECT count(*) FROM oracle").fetchone()[0]


def committed_view(con: duckdb.DuckDBPyConnection, triples_dir: str,
                   name: str = "committed", conv_filter: str | None = None) -> None:
    """Register the sink's committed triples as view ``name``."""
    where = f" WHERE conv_id IN (SELECT conv_id FROM {conv_filter})" if conv_filter else ""
    con.execute(
        f"CREATE OR REPLACE VIEW {name} AS SELECT {TRIPLE_COLS} FROM read_parquet("
        f"'{triples_dir}/**/*.parquet', hive_partitioning = true){where}"
    )


def compare(con: duckdb.DuckDBPyConnection, committed: str = "committed",
            oracle: str = "oracle") -> dict:
    """Set comparison of ``committed`` against ``oracle``.

    Returns ``rows`` (committed rows), ``dup_rows`` (committed rows that
    repeat a triple), ``extra`` / ``missing`` (the two halves of the
    symmetric difference), ``diff`` (their sum) and ``jaccard``
    (|C ∩ O| / |C ∪ O|, 1.0 when the sets are equal)."""
    rows, distinct = con.execute(
        f"SELECT count(*), (SELECT count(*) FROM (SELECT DISTINCT * FROM {committed})) "
        f"FROM {committed}"
    ).fetchone()
    extra = con.execute(
        f"SELECT count(*) FROM (SELECT * FROM {committed} EXCEPT SELECT * FROM {oracle})"
    ).fetchone()[0]
    missing = con.execute(
        f"SELECT count(*) FROM (SELECT * FROM {oracle} EXCEPT SELECT * FROM {committed})"
    ).fetchone()[0]
    union = distinct + missing
    return {
        "rows": rows, "dup_rows": rows - distinct, "extra": extra,
        "missing": missing, "diff": extra + missing,
        "jaccard": (distinct - extra) / union if union else 1.0,
    }


def digest(con: duckdb.DuckDBPyConnection, committed: str = "committed") -> str:
    """Order-independent digest of a triple set: row count plus the sum
    of per-row hashes."""
    n, h = con.execute(
        f"SELECT count(*), coalesce(sum(hash(conv_id, turn_idx, subj, pred, obj)), 0) "
        f"FROM {committed}"
    ).fetchone()
    return f"{n}:{h}"


SIM_COUNTS = """SELECT
    (SELECT count(*) FROM s_unl) AS unlinked,
    (SELECT count(DISTINCT toks) FROM s_unl) AS distinct_docs,
    (SELECT count(DISTINCT u.toks) FROM s_unl u
       JOIN (SELECT DISTINCT conv_id, turn_idx FROM {committed}
             WHERE pred = 'omop2obo:hasSimilarityMapping') c
       USING (conv_id, turn_idx)) AS hit_docs"""


def sim_counts(con: duckdb.DuckDBPyConnection, from_transcripts: bool,
               committed: str = "committed") -> dict:
    """Fallback-tier cardinalities: turns sent to the TF-IDF tier and their
    distinct token documents come from the oracle's turn-local CTEs (they
    do not depend on idf); a document counts as a hit when the engine
    committed a similarity triple for one of its turns."""
    sql = oracle_sql(True, from_transcripts,
                     final_select=SIM_COUNTS.format(committed=committed))
    u, d, h = con.execute(sql).fetchone()
    return {"unlinked": u, "distinct_docs": d, "hit_docs": h}
