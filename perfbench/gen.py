"""Seeded input generator owned by the benchmark.

It mirrors the shape of the package's synthetic transcripts (a Zipf
vocabulary of about 2k terms, hot terms in about 55% of turns, 8-64
turns per conversation, 5-60 tokens per turn) but does not import them,
so a change to the package's sources cannot change a workload. Every
function is a pure function of its arguments: the same seed gives the
same frames, queries and markers.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

VOCAB_SIZE = 2000
HOT_TERMS = ("the", "tool", "call")
HOT_SHARE = 0.55
ROLES = ("user", "assistant", "system", "tool")
ROLE_P = (0.4, 0.4, 0.05, 0.15)
TOOLS = ("bash", "search", "read_file")
BASE_TS = np.datetime64("2026-03-09T00:00:00")

VOCAB = np.array([f"w{i:04d}" for i in range(VOCAB_SIZE)], dtype=object)
_ZIPF_CDF = np.cumsum(1.0 / np.arange(1, VOCAB_SIZE + 1))
_ZIPF_CDF /= _ZIPF_CDF[-1]


def rng_for(seed: int, *stream: int) -> np.random.Generator:
    """Independent generator per (seed, stream ids)."""
    return np.random.default_rng([int(seed), *[int(s) for s in stream]])


def zipf_terms(rng: np.random.Generator, n: int) -> np.ndarray:
    codes = np.searchsorted(_ZIPF_CDF, rng.random(n)).clip(0, VOCAB_SIZE - 1)
    return VOCAB[codes]


def transcripts(rng: np.random.Generator, n_convs: int, conv_prefix: str, day: int = 0) -> pd.DataFrame:
    """Clean transcripts: (conv_id, turn_idx, role, text, tool, ts)."""
    turns = rng.integers(8, 65, size=n_convs)
    total = int(turns.sum())
    conv = np.repeat([f"{conv_prefix}-{i:06d}" for i in range(n_convs)], turns)
    turn_idx = np.concatenate([np.arange(n) for n in turns]).astype(np.int32)
    roles = rng.choice(np.array(ROLES, dtype=object), p=ROLE_P, size=total)
    tools = np.where(roles == "tool", rng.choice(np.array(TOOLS, dtype=object), size=total), None)
    lens = rng.integers(5, 61, size=total)
    toks = zipf_terms(rng, int(lens.sum()))
    # casing variants: the analyzer lowercases, so these index as-is
    upper = rng.random(toks.size) < 0.02
    toks[upper] = [t.capitalize() for t in toks[upper]]
    hot = rng.random(total) < HOT_SHARE
    hot_word = np.array(HOT_TERMS, dtype=object)[rng.integers(0, len(HOT_TERMS), size=total)]
    offs = np.concatenate(([0], np.cumsum(lens)))
    flat = toks.tolist()
    texts = [
        (hot_word[i] + " " if hot[i] else "") + " ".join(flat[offs[i] : offs[i + 1]])
        for i in range(total)
    ]
    step = np.concatenate([np.cumsum(rng.integers(1, 600, size=n)) for n in turns])
    start = day + rng.integers(0, 3, size=n_convs)
    ts = BASE_TS + np.repeat(start, turns).astype("timedelta64[D]") + step.astype("timedelta64[s]")
    return pd.DataFrame(
        {
            "conv_id": conv,
            "turn_idx": turn_idx,
            "role": roles,
            "text": np.array(texts, dtype=object),
            "tool": tools,
            "ts": pd.to_datetime(ts),
        }
    )


def spoil(rng: np.random.Generator, df: pd.DataFrame, n_null: int, n_over: int, over_tokens: int) -> np.ndarray:
    """Turn ``n_null`` rows into null-text rows and ``n_over`` rows into
    rows over the per-turn token limit (``over_tokens`` tokens). Returns
    the positions spoiled; both kinds are dead-lettered by the loader."""
    pos = rng.choice(len(df), size=n_null + n_over, replace=False)
    col = df.columns.get_loc("text")
    df.iloc[pos[:n_null], col] = None
    df.iloc[pos[n_null:], col] = "x " * over_tokens
    return pos


def marker_terms(seed: int, tag: str) -> tuple[str, str]:
    """Two tokens that occur nowhere else in the inputs of one run."""
    return f"mk{seed}q{tag}x", f"mk{seed}r{tag}y"


def marker_row(conv_id: str, terms: tuple[str, str], day: int) -> pd.DataFrame:
    return pd.DataFrame(
        {
            "conv_id": [conv_id],
            "turn_idx": np.array([0], dtype=np.int32),
            "role": ["user"],
            "text": [" ".join(terms)],
            "tool": [None],
            "ts": pd.to_datetime([BASE_TS + np.timedelta64(day, "D")]),
        }
    )


def bulk_corpus(seed: int, n_convs: int, over_tokens: int) -> tuple[pd.DataFrame, dict]:
    """A backfill corpus with bad rows (null text, over-limit token
    counts), duplicate natural keys and one marker turn. Returns the
    frame and the counts the index must end up with."""
    rng = rng_for(seed, 1)
    df = transcripts(rng, n_convs, f"b{seed}")
    n_null, n_over = max(1, len(df) // 400), 1
    bad = spoil(rng, df, n_null, n_over, over_tokens)
    good = np.setdiff1d(np.arange(len(df)), bad)
    dups = df.iloc[rng.choice(good, size=max(1, len(df) // 100), replace=False)]
    marker = marker_terms(seed, "b")
    df = pd.concat([df, dups, marker_row(f"b{seed}-marker", marker, 0)], ignore_index=True)
    expect = {"docs": len(good) + 1, "badrows": n_null + n_over, "marker": marker}
    return df, expect


def stream_batch(seed: int, batch: int, n_convs: int, over_tokens: int, prev: pd.DataFrame | None) -> tuple[pd.DataFrame, dict]:
    """One micro-batch: fresh turns, ~0.5% bad rows, ~3% turns re-delivered
    from the previous batch's good rows, and a marker turn. ``prev`` is
    the previous batch of the same stream (or None)."""
    rng = rng_for(seed, 2, batch)
    df = transcripts(rng, n_convs, f"s{seed}-{batch}", day=batch % 3)
    n_bad = max(2, len(df) // 200)
    spoil(rng, df, n_bad - 1, 1, over_tokens)
    parts = [df]
    if prev is not None:
        ok = prev[prev["text"].notna() & (prev["text"].str.len() < 10_000)]
        ok = ok[~ok["conv_id"].str.endswith("-marker")]
        parts.append(ok.iloc[rng.choice(len(ok), size=len(df) * 3 // 100, replace=False)])
    marker = marker_terms(seed, str(batch))
    parts.append(marker_row(f"s{seed}-{batch}-marker", marker, batch % 3))
    out = pd.concat(parts, ignore_index=True)
    expect = {"new_docs": len(df) - n_bad + 1, "badrows": n_bad, "marker": marker}
    return out, expect


#: query lengths in terms, cycled: fixed shares (1/5 one-term, 2/5
#: three-term, ...) keep the latency distribution the same from seed to
#: seed, and put the median and the 90th percentile inside one length
#: class rather than on the edge between two
QUERY_LENGTHS = (1, 2, 3, 3, 4)


def queries(rng: np.random.Generator, n: int) -> list[str]:
    """Query stream of 1-4 Zipf terms (lengths cycle through
    ``QUERY_LENGTHS``); every 20th query adds a term absent from the
    vocabulary and every 10th has a casing variant."""
    out = []
    for i in range(n):
        terms = list(zipf_terms(rng, QUERY_LENGTHS[i % len(QUERY_LENGTHS)]))
        if i % 20 == 7:
            terms.append(f"absent{int(rng.integers(0, 10**6))}")
        if i % 10 == 3:
            terms[0] = terms[0].upper()
        out.append(" ".join(terms))
    return out
