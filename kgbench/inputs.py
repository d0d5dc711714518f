"""Seeded input generators for the benchmark workloads.

Every input is a parquet file written from ``--seed`` with numpy's PCG64,
so one seed always gives the same bytes. The program under test only ever
sees these files: a documents table (``doc_id``, ``text``) for the chat
workloads, which ``transcripts_from_documents`` turns into ~12-token turns
with label / code / near-miss injection, and a transcripts table in the
package's contract schema for ``longturn_exact``.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from omop2obo_spark.fixtures import lexicon_data as L

# Filler vocabulary in the style of the testdata documents (technical
# chatter). Words that occur in any lexicon label or synonym are removed
# below, so filler never forms a term mention on its own.
_FILLER = (
    "batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query big key window row table stream merge data "
    "vector join customer the a run job task node cache disk shard commit "
    "retry tool call output input error log trace result config build test "
    "deploy server metric dashboard update schedule draft summary status"
).split() + list(L.NOISE_WORDS)


def _term_surfaces() -> list[str]:
    labels = [c[2].lower() for c in L.CONCEPTS]
    syns = [s.lower() for c in L.CONCEPTS for (s, _t) in c[4]]
    return sorted(set(labels) | set(syns))


def filler_words() -> list[str]:
    term_tokens = {t for s in _term_surfaces() for t in s.split()}
    return sorted({w for w in _FILLER if w not in term_tokens})


def code_surfaces() -> list[str]:
    return sorted(d.lower() for c in L.CONCEPTS for (d, _t) in c[5])


# ---------------------------------------------------------------------------
# chat workloads: documents -> transcripts_from_documents
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class DocSpec:
    n_docs: int
    min_tokens: int = 10
    max_tokens: int = 100
    templated_share: float = 0.3  # share of documents cut from a template
    n_templates: int = 40


def write_documents(path: str, spec: DocSpec, seed: int) -> int:
    """Write ``documents.parquet`` and return the number of turns that
    ``transcripts_from_documents`` derives from it (one turn per 12 tokens,
    at least one per document).

    Document lengths are a seeded shuffle of one fixed, evenly spread set
    of lengths, so every seed gives the same token and turn counts and
    only the text changes. A templated document is the first tokens of one
    of ``n_templates`` shared texts, so its turns repeat other documents'.
    """
    rng = np.random.default_rng([seed, 1])
    words = np.array(filler_words())
    lengths = rng.permutation(np.linspace(spec.min_tokens, spec.max_tokens, spec.n_docs)
                              .round().astype(int))
    templates = [words[rng.integers(0, len(words), spec.max_tokens)]
                 for _ in range(spec.n_templates)]
    texts = []
    for n in lengths:
        if rng.random() < spec.templated_share:
            toks = templates[int(rng.integers(0, spec.n_templates))][:n]
        else:
            toks = words[rng.integers(0, len(words), n)]
        texts.append(" ".join(toks))
    table = pa.table({
        "doc_id": pa.array(np.arange(spec.n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
    })
    pq.write_table(table, path)
    return int(sum(max(1, int(n) // 12) for n in lengths))


# ---------------------------------------------------------------------------
# longturn_exact: agent tool-output transcripts
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class LongTurnSpec:
    n_convs: int
    turns_per_conv: int
    turn_tokens: int = 1000
    code_share: float = 0.25  # share of turns that also carry a code mention


def write_long_transcripts(path: str, spec: LongTurnSpec, seed: int) -> int:
    """Write a transcripts parquet (contract schema) of long tool-output
    turns. Each turn is ``turn_tokens`` filler words with one lexicon
    label or synonym spliced in at a random position, and a ``coded as
    <code>`` phrase in ``code_share`` of the turns. Returns the turn count.
    """
    rng = np.random.default_rng([seed, 2])
    words = np.array(filler_words())
    terms = _term_surfaces()
    codes = code_surfaces()
    n = spec.n_convs * spec.turns_per_conv
    conv, turn, role, text, tool, ts = [], [], [], [], [], []
    t0 = dt.datetime(2026, 1, 1)
    for i in range(n):
        toks = list(words[rng.integers(0, len(words), spec.turn_tokens)])
        toks.insert(int(rng.integers(0, len(toks) + 1)), terms[int(rng.integers(0, len(terms)))])
        if rng.random() < spec.code_share:
            at = int(rng.integers(0, len(toks) + 1))
            toks[at:at] = ["coded", "as", codes[int(rng.integers(0, len(codes)))]]
        c, k = divmod(i, spec.turns_per_conv)
        conv.append(f"conv_{c:06d}")
        turn.append(k)
        r = ("user", "assistant", "tool")[k % 3]
        role.append(r)
        tool.append("shell" if r == "tool" else None)
        text.append(" ".join(toks))
        ts.append(t0 + dt.timedelta(seconds=i))
    table = pa.table({
        "conv_id": pa.array(conv, pa.string()),
        "turn_idx": pa.array(turn, pa.int32()),
        "role": pa.array(role, pa.string()),
        "text": pa.array(text, pa.string()),
        "tool": pa.array(tool, pa.string()),
        "ts": pa.array(ts, pa.timestamp("us")),
    })
    # several row groups, as a table written by a cluster job would have,
    # so the scan splits across cores
    pq.write_table(table, path, row_group_size=max(1, -(-n // 8)))
    return n
