"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Query registries live next to their implementations:
``connected_component_spark/queries/{relational,llmops,graph}.py``.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def _ensure_session_confs(spark: SparkSession) -> None:
    """Apply runtime-settable engine confs to a driver-provided
    session (events.parquet needs nanosAsLong, which is static —
    sources/tables.py falls back gracefully if unset)."""
    for k, v in [
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        # guard against Spark's 200-partition default on a driver
        # session: 32 matches the locally-tested config (wide enough
        # for Python-heavy stages, no 200-task overhead at sf0.01).
        # Partition count never affects declared results; iterative
        # operators re-size further via plans/tuning.py.
        ("spark.sql.shuffle.partitions", "32"),
    ]:
        try:
            spark.conf.set(k, v)
        except Exception:
            pass


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: minhash-LSH near-dup
    clustering of documents with the alternating-star CC kernel as
    the clustering backbone (the reference's algorithm driving an
    LLM-data-pipeline operator)."""
    _ensure_session_confs(spark)
    from connected_component_spark.queries.llmops import dedup_minhash_clusters

    return dedup_minhash_clusters(spark, "/root/testdata/sf0.001")


# Registry order = verification priority.  The driver's correctness
# run is time-budgeted (~50 rows per round), so the registry is
# ordered by STALENESS computed from the committed CORRECTNESS_r*.json
# artifacts (r4 verdict task 4 — no hand-maintained priority tuple):
#   1. never driver-verified (no green row in any round) — includes
#      every query new this round,
#   2. an INTERLEAVE of queries changed this round (listed below,
#      must re-earn a row) and stable queries stalest-first: every
#      _CHANGED_INTERLEAVE changed entries are followed by one stable
#      entry, so a wide changed set can never fill the driver's
#      ~50-row window and starve the stale tail past the 3-round
#      freshness bound (r13 verdict #1 — exactly that happened when
#      an 11-query changed list plus 3 new queries displaced the two
#      stalest rows for a 4th consecutive round),
# with (last-green-round, registry order) as the deterministic sort
# inside each bucket.  Under the 50-row budget every query re-earns
# a hard-signal row within ~2-3 rounds.

#: queries whose code path changed this round — re-verify first.
#: Maintained per round alongside the change itself.
_CHANGED_THIS_ROUND = (
    # every durable state fold now calls ``state.update`` directly
    # (the package's fold-timing hook is gone; bench.py times folds
    # from outside) — the rows that fold a state themselves:
    "stream_winnow_restart",
    "ann_ivf_incremental_topk",
    "ann_ivf_restart_topk",
    "text_bm25_incremental_topk",
    "text_bm25_maxscore_topk",
    "text_bm25_restart_topk",
    # ...and the users of the shared foreachBatch runner
    #   (streaming/store.py:run_state_stream):
    "stream_incremental_cc",
    "stream_winnow_dedup",
    "stream_ann_ingest",
    "stream_bm25_ingest",
    # — the streaming-dedup row, whose fold also reaches the capped-band
    #   valve's window count (operators/dedup.py:banded_pairs, called
    #   from streaming/dedup.py:IncrementalDedup.update):
    "stream_incremental_dedup",
)

#: interleave ratio for the changed/stable merge: this many changed
#: entries per one stalest-first stable entry.  At 2:1 a window of 50
#: holds >=16 stable rows no matter how wide the changed set is.
_CHANGED_INTERLEAVE = 2


def _green_rounds() -> dict[str, int]:
    """name -> latest round with a green driver CORRECTNESS row
    (err=null and every recorded *_match flag true)."""
    import glob
    import json
    import os
    import re

    root = os.path.dirname(os.path.abspath(__file__))
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                data = json.load(f)
        except Exception:
            continue
        if not isinstance(data, dict):
            continue
        for name, row in data.items():
            if not isinstance(row, dict) or row.get("err") is not None:
                continue
            flags = [v for k, v in row.items() if k.endswith("_match")]
            # Only affirmatively-true flags count: a null/None flag
            # (e.g. a skipped hash check) must not earn a verified
            # round and deprioritize the query out of the 50-row
            # budget (ADVICE r5).
            if flags and all(v is True for v in flags):
                out[name] = max(out.get(name, 0), rnd)
    return out


_MODULE_ORDER = ("relational", "graph", "streamq", "llmops")


def _modules():
    from connected_component_spark.queries import graph, llmops, relational, streamq

    order = {
        "relational": relational,
        "graph": graph,
        "streamq": streamq,
        "llmops": llmops,
    }
    return [order[name] for name in _MODULE_ORDER]


def _priority_order(
    names,
    verified: dict[str, int],
    changed,
    interleave: int = _CHANGED_INTERLEAVE,
) -> list[str]:
    """Deterministic verification order (pure — unit-testable without
    Spark): never-verified names first, then a strict interleave of
    changed-this-round and stalest-first stable names (``interleave``
    changed per one stable).  Guarantees the i-th stalest stable name
    appears within never + (i+1)*(interleave+1) positions, so the
    driver's fixed window always reaches the stale tail."""
    pos = {n: i for i, n in enumerate(names)}
    key = lambda n: (verified.get(n, 0), pos[n])  # noqa: E731
    never = [n for n in names if verified.get(n, 0) == 0]
    chg = sorted(
        (n for n in names if verified.get(n, 0) > 0 and n in changed), key=key
    )
    stable = sorted(
        (n for n in names if verified.get(n, 0) > 0 and n not in changed),
        key=key,
    )
    out = list(never)
    ci = si = 0
    while ci < len(chg) or si < len(stable):
        for _ in range(interleave):
            if ci < len(chg):
                out.append(chg[ci])
                ci += 1
        if si < len(stable):
            out.append(stable[si])
            si += 1
    return out


def _ordered(registries: list[dict]) -> dict:
    merged: dict = {}
    for reg in registries:
        merged.update(reg)
    order = _priority_order(
        list(merged), _green_rounds(), frozenset(_CHANGED_THIS_ROUND)
    )
    return {name: merged[name] for name in order}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return _ordered([mod.QUERIES for mod in _modules()])


def oracle_sql() -> dict[str, str]:
    return _ordered([mod.ORACLES for mod in _modules()])
