"""Column-function / operator façade — the engine's reusable helpers,
collected in one import::

    from inxs_spark import functions as EF
    df.select(EF.cosine(...), EF.tokens(...), EF.shingles(...))
    EF.asof_join(trades, quotes, by="sym", on="ts", right_select=...)
"""

from ..operators.dedup import shingles  # noqa: F401
from ..operators.relational import (  # noqa: F401
    asof_join,
    range_band_join,
    time_bucket,
)
from ..operators.similarity import cosine, dot, norm  # noqa: F401
from ..operators.text import bpe_ish_tokens, chunk_documents, tokens  # noqa: F401

__all__ = [
    "shingles",
    "cosine", "dot", "norm",
    "tokens", "bpe_ish_tokens", "chunk_documents",
    "asof_join", "range_band_join", "time_bucket",
]
