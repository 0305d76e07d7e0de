"""Seeded inputs for the benchmark: transcripts corpora and query streams.

The corpus follows the FIXTURES.md section 1 `transcripts` distribution:
1-12 turns per conversation, 5-120 tokens per turn drawn from a Zipf(s=1.1)
distribution over a 30k-word vocabulary (`w0`..`w29999`), with 2%
punctuation-joined compounds, 1% non-ASCII tokens, 0.5% tokens of 45 bytes
(dropped by the analyzer), 2% digits and 2% mixed case.  Generation is
vectorized over the whole corpus from one `numpy` generator, so it is fast
enough to run inside every benchmark run; the same (seed, size) always
gives the same rows.

Every function here is pure: the engine only ever sees the tables and
query lists these functions return.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

VOCAB_SIZE = 30_000
ZIPF_S = 1.1
_NON_ASCII = np.array(
    ["héllo", "Grüße", "ΣΊΣΥΦΟΣ", "東京", "naïve", "Ωμέγα"], dtype=object)
_LONG = "x" * 45
_ROLES = np.array(["user", "assistant", "tool"], dtype=object)
_ROLE_P = [0.40, 0.45, 0.15]
_TOOLS = np.array(["search", "python", "browser"], dtype=object)
_VOCAB = np.array([f"w{i}" for i in range(VOCAB_SIZE)], dtype=object)
_EPOCH_US = 1_767_225_600_000_000  # 2026-01-01T00:00:00Z


def _zipf_cdf() -> np.ndarray:
    p = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64) ** (-ZIPF_S)
    return np.cumsum(p / p.sum())


_CDF = _zipf_cdf()


def zipf_ranks(rng: np.random.Generator, n: int) -> np.ndarray:
    """`n` vocabulary ranks (0-based) from the corpus' Zipf distribution."""
    return np.minimum(np.searchsorted(_CDF, rng.random(n)), VOCAB_SIZE - 1)


def marker_token(seed: int, commit: int) -> str:
    """A token that occurs in exactly one document of the whole run: the
    marker doc of ingest commit `commit`.  Letters and digits only, so the
    default analyzer keeps it whole; never of the `w<rank>` vocabulary."""
    return f"zmark{seed}c{commit}"


def transcripts(seed: int, conv_start: int, n_convs: int,
                markers: dict[int, str] | None = None) -> pa.Table:
    """Conversations `conv_start .. conv_start+n_convs-1` as an Arrow table
    (conv_id, turn_idx, role, text, tool, ts).

    `markers` maps a conversation ordinal (relative to `conv_start`) to a
    token appended to that conversation's first turn."""
    rng = np.random.default_rng([seed, conv_start, n_convs])
    n_turns = 1 + rng.integers(0, 12, size=n_convs)
    n_rows = int(n_turns.sum())
    conv_of_row = np.repeat(np.arange(n_convs), n_turns)
    row_start = np.concatenate([[0], np.cumsum(n_turns)[:-1]])
    turn_idx = (np.arange(n_rows) - np.repeat(row_start, n_turns)).astype(
        np.int32)

    n_tok = rng.integers(5, 121, size=n_rows)
    n_all = int(n_tok.sum())
    words = _VOCAB[zipf_ranks(rng, n_all)]
    r = rng.random(n_all)
    m = r < 0.02
    words[m] = [a + "-" + b for a, b in zip(
        words[m], _VOCAB[rng.integers(0, VOCAB_SIZE, size=int(m.sum()))])]
    m = (r >= 0.02) & (r < 0.03)
    words[m] = _NON_ASCII[rng.integers(0, len(_NON_ASCII), size=int(m.sum()))]
    m = (r >= 0.03) & (r < 0.035)
    words[m] = _LONG
    m = (r >= 0.035) & (r < 0.055)
    words[m] = rng.integers(0, 100_000, size=int(m.sum())).astype(str)
    m = (r >= 0.055) & (r < 0.075)
    upper = rng.random(int(m.sum())) < 0.5
    words[m] = [w.upper() if u else w.capitalize()
                for w, u in zip(words[m], upper)]

    bounds = np.concatenate([[0], np.cumsum(n_tok)])
    wl = words.tolist()
    text = [" ".join(wl[bounds[i]:bounds[i + 1]]) for i in range(n_rows)]
    for rel, tok in (markers or {}).items():
        row = int(row_start[rel])
        text[row] = text[row] + " " + tok

    roles = _ROLES[rng.choice(3, size=n_rows, p=_ROLE_P)]
    tool = np.where(rng.random(n_rows) < 0.85, None,
                    _TOOLS[rng.integers(0, 3, size=n_rows)])
    conv_ord = conv_start + conv_of_row
    ts = _EPOCH_US + 37_000_000 * (conv_ord.astype(np.int64) * 13 + turn_idx)
    return pa.table({
        "conv_id": pa.array([f"conv{i:08d}" for i in conv_ord.tolist()]),
        "turn_idx": pa.array(turn_idx),
        "role": pa.array(roles.tolist(), pa.string()),
        "text": pa.array(text, pa.string()),
        "tool": pa.array(tool.tolist(), pa.string()),
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
    })


def text_bytes(table) -> int:
    """UTF-8 bytes of the text column of a table or record batch (the
    MB/s denominator)."""
    import pyarrow.compute as pc

    return int(pc.sum(pc.binary_length(table.column("text"))).as_py() or 0)


# --------------------------------------------------------------------------
# query streams
# --------------------------------------------------------------------------

def _term(rank: int) -> str:
    return f"w{int(rank)}"


# FIXTURES.md section 2, the repo's reference query set, per 200 queries:
# 50 single-term, 75 2-term OR, 40 3-term OR, 25 2-3-term AND and 10 edge
# cases
FIXTURE_MIX = (("term", 50), ("or2", 75), ("or3", 40), ("and", 25),
               ("edge", 10))
# the query kinds the serving stream adds to it, 10 each per 200 reference
# queries (4.3% each): every kernel path of the serving reader runs in
# every pass, and the reference mix stays 87% of the stream
SERVE_EXTRA = (("dismax", 10), ("phrase", 10), ("fuzzy", 10))
# the serving stream of build_serve is "serve"; the ingest and distributed
# streams are the reference mix alone
MIXES = {"fixture": FIXTURE_MIX, "serve": FIXTURE_MIX + SERVE_EXTRA}
# FIXTURES.md section 2 edge cases.  The section 1 corpus has no term in
# every doc: `w0`, the rank-0 term (in about half the docs), stands in for
# it and for the stopword-frequency head term
HEAD = "w0"
ABSENT = "zabsent"


def _edge(i: int, rng: np.random.Generator):
    from tantivy_spark.plans import logical as L

    t = _term(zipf_ranks(rng, 1)[0])
    return (L.TermQuery(ABSENT), L.TermQuery(HEAD),
            L.BooleanQuery.union([HEAD, t]),
            L.BooleanQuery.intersection([HEAD, t]))[i % 4]


def query_stream(seed: int, stream: int, n: int,
                 mix: tuple[tuple[str, int], ...]) -> list[tuple[str, object]]:
    """`n` (kind, query) pairs in random order; `stream` tells apart the
    streams drawn from one seed.  Each kind gets its share of `mix`; every
    term is an independent draw from the corpus' Zipf distribution, so a few
    head terms repeat (they stay in the serving term cache once loaded)
    while tail terms mostly occur once (they miss it)."""
    from tantivy_spark.plans import logical as L

    rng = np.random.default_rng([seed, 7, stream, n])
    p = np.asarray([w for _, w in mix], dtype=np.float64)
    counts = np.floor(n * p / p.sum()).astype(int)
    counts[0] += n - counts.sum()
    out: list[tuple[str, object]] = []
    for (kind, _), cnt in zip(mix, counts):
        for i in range(cnt):
            a, b, c = (_term(x) for x in zipf_ranks(rng, 3))
            if kind == "term":
                q = L.TermQuery(a)
            elif kind == "or2":
                q = L.BooleanQuery.union([a, b])
            elif kind == "or3":
                q = L.BooleanQuery.union([a, b, c])
            elif kind == "and":
                q = L.BooleanQuery.intersection(
                    [a, b] if rng.random() < 0.5 else [a, b, c])
            elif kind == "edge":
                q = _edge(i, rng)
            elif kind == "dismax":
                q = L.DisjunctionMaxQuery((L.TermQuery(a), L.TermQuery(b)),
                                          0.3)
            elif kind == "phrase":
                q = L.PhraseQuery((a, b), slop=2)
            elif kind == "fuzzy":
                # a near-miss spelling of a real term: distance-1
                # expansion walks the term dictionary
                q = L.FuzzyTermQuery(a + "z", distance=1)
            else:
                raise ValueError(f"unknown query kind {kind!r}")
            out.append((kind, q))
    order = rng.permutation(len(out))
    return [out[i] for i in order]


def and_queries(seed: int, n: int) -> list:
    """`n` two-term AND queries over torso terms (ranks 50-500): small,
    non-empty match sets, so the full match set can be compared."""
    from tantivy_spark.plans import logical as L

    rng = np.random.default_rng([seed, 11, n])
    a = rng.integers(50, 150, size=n)
    b = rng.integers(150, 500, size=n)
    return [L.BooleanQuery.intersection([_term(x), _term(y)])
            for x, y in zip(a, b)]
