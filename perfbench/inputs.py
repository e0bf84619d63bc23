"""Seeded inputs for the benchmark and the order-independent output digests.

The corpus is a fixed synthetic `documents` table (the schema of the test
data's documents.parquet), so its pipeline outputs can be pinned once in
pinned.json. The workload seed never changes *what* is in the corpus: it
permutes the row order of the documents file (outputs must not depend on
it), picks the urls whose stale crawl a recrawl replaces, and draws the
question stream.
"""

from __future__ import annotations

import hashlib
import os
import random
from collections.abc import Collection

CORPUS_SEED = 42
CORPUS_DOCS = 500
RECRAWL_SHARE = 0.05

_WORDS = (
    "scan column window order sort part agg value line key join merge group "
    "query a vector hash slow stream filter fast the batch spark table small "
    "data big customer row"
).split()
_LANGS = ["en", "en", "en", "fr", "es", "zh", "de"]

# Hot head: entities whose neighbourhoods span a large share of the corpus
# (the page synthesizer injects them into ~30 % of sentences). Tail: registry
# entities with small neighbourhoods. Every name must be an entity of the
# graph; pin.py checks that.
HOT = ["Apple Inc.", "Securities and Exchange Commission", "Federal Reserve"]
TAIL = [
    "Microsoft Corporation", "NVIDIA Corporation", "JPMorgan Chase & Co.",
    "Goldman Sachs Group", "Exxon Mobil Corporation", "The Boeing Company",
    "Pfizer Inc.", "European Central Bank", "Jerome Powell", "Elon Musk",
    "Bitcoin", "Taiwan Semiconductor Manufacturing",
]

CALLS = [
    "context.build_context",
    "embed.two_stage_search",
    "embed.search_entities",
    "readpath.two_hop_neighbors",
    "readpath.facts_for_entities",
    "readpath.entity_one_hop_chunks",
]


def _corpus_rows() -> list[tuple]:
    rng = random.Random(CORPUS_SEED)
    rows = []
    for doc_id in range(CORPUS_DOCS):
        text = " ".join(rng.choice(_WORDS) for _ in range(rng.randint(6, 80)))
        rows.append((doc_id, text, rng.choice(_LANGS), f"src{doc_id % 20}", len(text)))
    return rows


def _stale_text(text: str) -> str:
    # an older crawl of the same page: different filler text, same url
    return " ".join(reversed(text.split()[: max(3, len(text.split()) // 2)]))


def recrawl_ids(seed: int) -> set[int]:
    """Doc ids whose base crawl is stale and which the recrawl replaces."""
    k = max(1, int(CORPUS_DOCS * RECRAWL_SHARE))
    return set(random.Random(seed).sample(range(CORPUS_DOCS), k))


def write_documents(
    sf_dir: str,
    seed: int,
    *,
    stale: Collection[int] = frozenset(),
    only: Collection[int] | None = None,
) -> str:
    """Write `<sf_dir>/documents.parquet` in a seed-permuted row order.

    `stale` doc ids get their older text; `only` keeps just those doc ids."""
    import pandas as pd

    rows = [
        (d, _stale_text(t) if d in stale else t, lang, src, n)
        for d, t, lang, src, n in _corpus_rows()
        if only is None or d in only
    ]
    random.Random(seed).shuffle(rows)
    os.makedirs(sf_dir, exist_ok=True)
    pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    ).to_parquet(os.path.join(sf_dir, "documents.parquet"), index=False)
    return sf_dir


def question_stream(seed: int):
    """Endless closed-loop request stream of (call, entity) pairs.

    Each round issues every call once in a seeded order, so a run of whole
    rounds always has the same call mix; about a third of the entities come
    from the hot head."""
    rng = random.Random(seed)
    while True:
        calls = CALLS[:]
        rng.shuffle(calls)
        yield [
            (call, rng.choice(HOT) if rng.random() < 1 / 3 else rng.choice(TAIL))
            for call in calls
        ]


def _digest_row(df):
    from pyspark.sql import functions as F

    row_json = F.to_json(F.struct(*[F.col(c) for c in sorted(df.columns)]))
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(row_json).cast("decimal(38,0)")).alias("h"),
    )


def table_digest(df) -> list:
    """[rows, digest] of a DataFrame, independent of row order, column order,
    file layout and integer widths (each row is hashed as JSON)."""
    row = _digest_row(df).first()
    return [int(row["n"]), str(row["h"] or 0)]


def tables_digest(tables: dict) -> dict:
    """{name: table_digest(df)} for every table, from a single action."""
    from functools import reduce

    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    rows = reduce(DataFrame.unionByName, [
        _digest_row(df).select(F.lit(name).alias("t"), "n", "h") for name, df in tables.items()
    ]).collect()
    return {r["t"]: [int(r["n"]), str(r["h"] or 0)] for r in rows}


def rows_digest(rows) -> str:
    """Digest of collected result rows, independent of their order."""
    h = hashlib.sha256()
    for line in sorted(repr(tuple(r)) for r in rows):
        h.update(line.encode())
    return h.hexdigest()[:16]
