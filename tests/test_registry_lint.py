"""Registry lints.

Output contract: no queries() entry may emit a
container-typed (array/map/struct) column.

The driver's correctness gate canonicalizes results with pandas
``sort_values``, which raises ``TypeError: unhashable type: 'list'`` on
list cells — so a query that returns a raw array column can compute the
right values and still fail the gate (this happened once:
``hashed_bow_embeddings`` in round 5). This lint makes the invariant
permanent: every registry query must serialize vectors/collections
(concat_ws / explode) before returning.

Batch queries are checked plan-only here (no execution — schema comes
from the analyzed plan). Streaming queries, whose registry callables run
a stream to produce their batch result, are skipped here and covered by
the identical schema assertion inside tests/test_oracle_parity.py, which
executes them anyway.

Oracle source: each shared oracle SQL shape is spelled once in
plans/queries.py (its builder), and a row whose oracle is another row's
reuses that row's oracle object.
"""

from __future__ import annotations

import inspect
import os

import pytest
from pyspark.sql import types as T

import __spark_entry__ as entry_mod
from scylla_migrator_spark.plans import queries as Q

_CONTAINER = (T.ArrayType, T.MapType, T.StructType)


def _is_streaming(fn) -> bool:
    try:
        src = inspect.getsource(fn)
    except (OSError, TypeError):  # pragma: no cover - builtins/lambdas
        return False
    return "readStream" in src or "writeStream" in src


BATCH_NAMES = sorted(
    name for name, fn in entry_mod.queries().items() if not _is_streaming(fn)
)


# registry-wide (one case per query): rides with the parity tier; the
# full parity suite asserts the identical schema contract inline anyway
@pytest.mark.parity
def test_lint_covers_most_of_registry():
    # sanity: the streaming skip must stay a small minority, or the lint
    # silently stops covering the registry
    total = len(entry_mod.queries())
    assert len(BATCH_NAMES) >= total * 0.8, (total, len(BATCH_NAMES))


@pytest.mark.parity
@pytest.mark.parametrize("name", BATCH_NAMES)
def test_no_container_typed_output(spark, sf_dir, name):
    df = entry_mod.queries()[name](spark, sf_dir)
    bad = [
        f.name for f in df.schema.fields if isinstance(f.dataType, _CONTAINER)
    ]
    assert not bad, (
        f"query {name!r} emits container-typed column(s) {bad}: the driver's "
        "pandas canonicalizer cannot sort list cells — serialize with "
        "concat_ws / explode before returning"
    )


# one line of each shared oracle shape, found in queries.py source
SHARED_ORACLE_LINES = (
    # SimHash majority-bit fold
    "b -> CASE WHEN len(list_filter(hs, x -> (x & (1::BIGINT << b)) <> 0)) * 2 > len(hs)",
    # Hamming pair predicate
    "WHERE bit_count(xor(a.sh, b.sh)) <=",
    # recursive transitive closure
    "reach(v, u) AS (",
)

# rows whose oracle is another row's: (row, the row it reuses)
SHARED_ORACLE_ROWS = (
    ("levenshtein_capped_pairs", "levenshtein_near_pairs"),
    ("lsh_ann_bucketed_topk", "lsh_ann_topk"),
    ("stream_scd2_history", "scd2_event_history"),
)


def test_shared_oracle_shapes_are_spelled_once():
    with open(os.path.join(os.path.dirname(Q.__file__), "queries.py")) as f:
        src = f.read()
    for line in SHARED_ORACLE_LINES:
        assert src.count(line) == 1, (line, src.count(line))
    for row, reused in SHARED_ORACLE_ROWS:
        assert Q.ORACLES[row] is Q.ORACLES[reused], row
