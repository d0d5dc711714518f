"""Self-test of the benchmark's output check.

The committed triple set is compared with the DuckDB oracle; dropping or
altering a single committed triple must make ``oracle_diff`` non-zero.
Needs only DuckDB and pyarrow (no Spark). Run from the repository root:

    python3 -m pytest kgbench/tests -q
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

import inputs  # noqa: E402
import oracle  # noqa: E402


def _write_sink(con, out: Path, where: str = "TRUE", obj: str = "obj") -> Path:
    """Write the oracle rows as a GraphSink-shaped, part_id-partitioned
    parquet dataset."""
    out.mkdir(parents=True)
    triples = out / "triples"
    con.execute(
        f"COPY (SELECT conv_id, turn_idx, subj, pred, {obj} AS obj, "
        f"hash(conv_id) % 16 AS part_id FROM oracle WHERE {where}) "
        f"TO '{triples}' (FORMAT PARQUET, PARTITION_BY (part_id))"
    )
    return triples


@pytest.fixture(scope="module", params=["documents", "transcripts"])
def con(request, tmp_path_factory):
    d = tmp_path_factory.mktemp(request.param)
    c = duckdb.connect()
    if request.param == "documents":
        inputs.write_documents(str(d / "documents.parquet"), inputs.DocSpec(n_docs=40), seed=7)
        c.execute(f"CREATE VIEW documents AS SELECT doc_id, text "
                  f"FROM read_parquet('{d}/documents.parquet')")
        n = oracle.load_oracle(c, include_sim=True, from_transcripts=False)
    else:
        inputs.write_long_transcripts(str(d / "transcripts.parquet"),
                                      inputs.LongTurnSpec(4, 2, turn_tokens=60), seed=7)
        c.execute(f"CREATE VIEW transcripts AS SELECT conv_id, turn_idx, text "
                  f"FROM read_parquet('{d}/transcripts.parquet')")
        n = oracle.load_oracle(c, include_sim=False, from_transcripts=True)
    assert n > 0
    c.execute("CREATE TABLE victim AS SELECT * FROM oracle USING SAMPLE 1 ROWS (reservoir, 3)")
    return c, d


def _victim(con) -> str:
    s, p, o = con.execute("SELECT subj, pred, obj FROM victim").fetchone()
    q = lambda v: "'" + v.replace("'", "''") + "'"  # noqa: E731
    return f"subj = {q(s)} AND pred = {q(p)} AND obj = {q(o)}"


def test_identical_sink_has_no_diff(con):
    con, tmp = con
    oracle.committed_view(con, str(_write_sink(con, tmp / "same")))
    got = oracle.compare(con)
    assert got["diff"] == 0 and got["dup_rows"] == 0 and got["jaccard"] == 1.0


def test_dropping_one_triple_is_caught(con):
    con, tmp = con
    v = _victim(con)
    oracle.committed_view(con, str(_write_sink(con, tmp / "drop", where=f"NOT ({v})")))
    got = oracle.compare(con)
    assert got["missing"] == 1 and got["diff"] == 1 and got["jaccard"] < 1.0


def test_altering_one_triple_is_caught(con):
    con, tmp = con
    v = _victim(con)
    obj = f"CASE WHEN {v} THEN obj || '_altered' ELSE obj END"
    oracle.committed_view(con, str(_write_sink(con, tmp / "alter", obj=obj)))
    got = oracle.compare(con)
    assert got["extra"] == 1 and got["missing"] == 1 and got["diff"] == 2


def test_duplicate_rows_are_counted(con):
    con, tmp = con
    v = _victim(con)
    triples = _write_sink(con, tmp / "dup")
    (triples / "part_id=16").mkdir()
    con.execute(
        f"COPY (SELECT conv_id, turn_idx, subj, pred, obj FROM oracle WHERE {v}) "
        f"TO '{triples}/part_id=16/extra.parquet' (FORMAT PARQUET)"
    )
    oracle.committed_view(con, str(triples))
    got = oracle.compare(con)
    assert got["dup_rows"] == 1 and got["diff"] == 0


def test_digest_ignores_order_and_sees_content(con):
    con, tmp = con
    oracle.committed_view(con, str(_write_sink(con, tmp / "d1")), name="a")
    con.execute("CREATE OR REPLACE VIEW b AS SELECT * FROM a ORDER BY obj DESC")
    assert oracle.digest(con, "a") == oracle.digest(con, "b")
    con.execute(f"CREATE OR REPLACE VIEW c AS SELECT * FROM a WHERE NOT ({_victim(con)})")
    assert oracle.digest(con, "a") != oracle.digest(con, "c")
