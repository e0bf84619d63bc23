"""Regenerate perfbench/pinned.json, the expected outputs of every op.

    python3 perfbench/pin.py      (from the repository root)

Builds the corpus in two row orders and requires equal per-stage digests
(pinned under "stages"); digests the engine's own from-scratch oracle
(`upsert.build_kg_tables`) plus re-embedded vectors, which a recrawl-merged
snapshot must equal ("recrawl"); and digests every (call, entity) question
of the stream's pool over the built graph ("queries"). Re-pin only when the
engine's outputs change on purpose.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

from run import CORES, HERE, STAGE_LAYER, UPSERT_TABLES, Bench, _isolate, _query_calls, _stop

from inputs import HOT, TAIL, rows_digest, table_digest, write_documents
from spans import Tracer


def main() -> int:
    root = os.getcwd()
    work = os.path.join(root, ".perfbench", "pin")
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work, root)
    sys.path.insert(0, root)
    from pyspark.sql import functions as F

    from vanna_financial_knowledge_graph_spark.operators.embed import build_vectors
    from vanna_financial_knowledge_graph_spark.operators.upsert import build_kg_tables
    from vanna_financial_knowledge_graph_spark.session import get_spark

    spark = get_spark("perfbench-pin", cpus=min(CORES, len(os.sched_getaffinity(0))))
    spark.sparkContext.setLogLevel("ERROR")
    try:
        b = Bench(spark, Tracer(spark, False), work, 0, {})
        digests = []
        for order_seed in (0, 1):
            corpus = write_documents(b.path(f"corpus{order_seed}"), order_seed)
            out = b.build(corpus, b.path(f"build{order_seed}"), traced=False)
            digests.append({s: table_digest(out[s]) for s in STAGE_LAYER})
        if digests[0] != digests[1]:
            diff = [s for s in STAGE_LAYER if digests[0][s] != digests[1][s]]
            raise SystemExit(f"build outputs depend on the input row order: {diff}")

        ref = build_kg_tables(spark, out["pages"])
        recrawl = {t: table_digest(ref[t]) for t in UPSERT_TABLES}
        width = spark.sparkContext.defaultParallelism * 2
        recrawl["vectors"] = table_digest(
            build_vectors(ref["chunks"], ref["entities"], ref["facts"], ref["topics"], width=width)
        )

        calls = _query_calls(spark, out)
        queries: dict[str, dict[str, str]] = {}
        for entity in HOT + TAIL:
            if out["entities"].where(F.col("name") == entity).count() == 0:
                raise SystemExit(f"{entity!r} is not an entity of the graph")
            for call, fn in calls.items():
                queries.setdefault(call, {})[entity] = rows_digest(fn(entity).collect())
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    pinned = {
        "made": time.strftime("%Y-%m-%d"),
        "stages": digests[0],
        "recrawl": recrawl,
        "queries": queries,
    }
    with open(os.path.join(HERE, "pinned.json"), "w") as f:
        json.dump(pinned, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
