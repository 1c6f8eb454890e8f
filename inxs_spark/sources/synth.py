"""Deterministic synthetic transcripts (FIXTURES.md §1/§2, seed=42).

The driver's testdata has no transcripts table, so the engine
synthesizes one with EXACTLY the input-hint shape (BASELINE.json:15):

    transcripts(conv_id string, turn_idx int32, role string,
                text string, tool string, ts timestamp)

Every value is a pure function of (seed, conv_ordinal, turn_idx), so
any process — Spark executors generating in parallel, or a serial test
oracle — recomputes identical rows without coordination. Conversation
lengths follow Zipf(a=1.5) clipped to [1, 2000]: the long-conversation
skew profile the extraction stage must balance (FIXTURES.md §1).
"""

from __future__ import annotations

import random
from datetime import datetime, timezone
from typing import Iterator, Optional

SEED = 42
ZIPF_A = 1.5
MAX_CONV_LEN = 2000
EPOCH = datetime(2026, 1, 1, tzinfo=timezone.utc)

#: scale tiers (FIXTURES.md §1): turns per tier
TIERS = {"tiny": 2_000, "small": 60_000, "bench": 600_000, "scale": 2_400_000}

_WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform victor "
    "whiskey xray yankee zulu data spark engine rule extract content main "
    "table row cell value system agent tool turn reply query answer node"
).split()

_TOOLS = ("search", "browser", "python")


# ---------------------------------------------------------------------------
# conversation shape
# ---------------------------------------------------------------------------

def conv_length(conv_ordinal: int) -> int:
    """Zipf(a=1.5)-distributed length, clipped to [1, MAX_CONV_LEN];
    pure function of the ordinal."""
    rnd = random.Random((SEED << 32) ^ conv_ordinal)
    u = rnd.random()
    if u < 1e-9:
        u = 1e-9
    length = int(u ** (-1.0 / (ZIPF_A - 1.0)))  # u^-2 for a=1.5
    return max(1, min(MAX_CONV_LEN, length))


def conv_id(conv_ordinal: int) -> str:
    return f"conv{conv_ordinal:08d}"


def plan_conversations(total_turns: int) -> list[tuple[int, int]]:
    """[(conv_ordinal, length)] until cumulative length ≥ total_turns.
    Whole conversations only — deterministic overshoot."""
    plan: list[tuple[int, int]] = []
    total = 0
    ordinal = 0
    while total < total_turns:
        length = conv_length(ordinal)
        plan.append((ordinal, length))
        total += length
        ordinal += 1
    return plan


# ---------------------------------------------------------------------------
# per-turn fields
# ---------------------------------------------------------------------------

def _turn_rng(conv_ordinal: int, turn_idx: int) -> random.Random:
    return random.Random(((SEED * 1_000_003 + conv_ordinal) << 20) ^ turn_idx)


def _sentence(rnd: random.Random, n_min: int = 4, n_max: int = 10) -> str:
    n = rnd.randint(n_min, n_max)
    words = [rnd.choice(_WORDS) for _ in range(n)]
    return " ".join(words)


def _wiki_payload(rnd: random.Random) -> str:
    paras = []
    for _ in range(rnd.randint(1, 3)):
        lead = _sentence(rnd)
        cite = rnd.randint(1, 40)
        tail = _sentence(rnd)
        paras.append(f"<p>{lead}.<ref>[{cite}]</ref> {tail}.</p>")
    return (
        f"<article><header>{_sentence(rnd, 2, 4)}</header>"
        + "".join(paras)
        + f"<footer>{_sentence(rnd, 2, 4)}</footer></article>"
    )


def _html_payload(rnd: random.Random) -> str:
    soup = rnd.random() < 0.3
    p1, p2 = _sentence(rnd), _sentence(rnd)
    inline = rnd.choice(_WORDS)
    main = (
        f"<main><p>{p1}.<p>{p2}.<span>{inline}</span></main>"
        if soup
        else f"<main><p>{p1}.</p><p>{p2}.</p><span>{inline}</span></main>"
    )
    return (
        f"<html><body><nav>{_sentence(rnd, 2, 3)}</nav>"
        f'<div class="ads">{_sentence(rnd, 2, 4)}</div>'
        + main
        + f"<footer>{_sentence(rnd, 2, 3)}</footer></body></html>"
    )


def _table_payload(rnd: random.Random) -> str:
    cols = rnd.randint(2, 4)
    rows = rnd.randint(1, 4)
    head = "".join(f"<th>{rnd.choice(_WORDS)}</th>" for _ in range(cols))
    body = "".join(
        "<tr>" + "".join(f"<td>{rnd.choice(_WORDS)}{rnd.randint(0, 99)}</td>" for _ in range(cols)) + "</tr>"
        for _ in range(rows)
    )
    return f"<table><tr>{head}</tr>{body}</table>"


def _ns_payload(rnd: random.Random) -> str:
    keep = _sentence(rnd, 3, 6)
    junk = _sentence(rnd, 2, 4)
    return (
        f'<d:doc xmlns:d="urn:x"><d:keep>{keep}</d:keep>'
        f"<d:meta>{junk}</d:meta></d:doc>"
    )


def _tool_payload(rnd: random.Random) -> str:
    out = _sentence(rnd, 3, 8)
    err = "" if rnd.random() < 0.7 else _sentence(rnd, 1, 3)
    return (
        f'<result code="{rnd.randint(0, 2)}"><stdout>{out}</stdout>'
        f"<stderr>{err}</stderr></result>"
    )


def _malformed_payload(rnd: random.Random) -> str:
    # half TRUNCATED markup (recovers via the tag-soup fallback — text
    # still extracted), half declared-XML with an invalid charref
    # (hard parse_error: explicit <?xml ?> opts out of soup recovery) —
    # both failure modes exist in real corpora and both paths must
    # stay exercised
    if rnd.random() < 0.5:
        return f"<doc><para>{_sentence(rnd)}"
    return f'<?xml version="1.0"?><doc>&#xZZ;{_sentence(rnd, 2, 3)}</doc>'


_KIND_THRESHOLDS = (
    (0.35, "wiki"),
    (0.55, "html"),
    (0.70, "table"),
    (0.80, "ns"),
    (0.90, "tool"),
    (0.95, "plain"),
    (0.98, "malformed"),
    (1.01, "empty"),
)


def payload(conv_ordinal: int, turn_idx: int) -> str:
    """The turn's text column — pure function of its coordinates."""
    rnd = _turn_rng(conv_ordinal, turn_idx)
    p = rnd.random()
    for threshold, kind in _KIND_THRESHOLDS:
        if p < threshold:
            break
    if kind == "wiki":
        return _wiki_payload(rnd)
    if kind == "html":
        return _html_payload(rnd)
    if kind == "table":
        return _table_payload(rnd)
    if kind == "ns":
        return _ns_payload(rnd)
    if kind == "tool":
        return _tool_payload(rnd)
    if kind == "plain":
        return _sentence(rnd, 4, 12) + "."
    if kind == "malformed":
        return _malformed_payload(rnd)
    return rnd.choice(("", "  \n", "\t "))


def role_and_tool(conv_ordinal: int, turn_idx: int) -> tuple[str, Optional[str]]:
    rnd = random.Random(((SEED + 7) * 999_983 + conv_ordinal) * 4099 + turn_idx)
    if rnd.random() < 0.15:
        return "tool", rnd.choice(_TOOLS)
    return ("user" if turn_idx % 2 == 0 else "assistant"), None


def turn_ts(conv_ordinal: int, turn_idx: int) -> datetime:
    return EPOCH.fromtimestamp(
        EPOCH.timestamp() + conv_ordinal * 60 + turn_idx, tz=timezone.utc
    )


def iter_turns(conv_ordinal: int) -> Iterator[dict]:
    """All rows of one conversation — the executor-side expansion."""
    cid = conv_id(conv_ordinal)
    for idx in range(conv_length(conv_ordinal)):
        role, tool = role_and_tool(conv_ordinal, idx)
        yield {
            "conv_id": cid,
            "turn_idx": idx,
            "role": role,
            "text": payload(conv_ordinal, idx),
            "tool": tool,
            "ts": turn_ts(conv_ordinal, idx),
        }
