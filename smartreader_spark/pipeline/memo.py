"""One session memo for intermediate tables shared by several queries.

Several driver queries consume the same expensive intermediate table in
one session, and a 100 TB pipeline would likewise materialize it once
and feed every consumer from it:

* ``training.stages`` — the composed pipeline's stage build (one
  extraction pass, cached); ``pipeline_end_to_end`` then
  ``pipeline_funnel`` pay it once.
* ``curation.gates`` — the three curation gate verdicts
  (localCheckpointed); ``curation_pipeline``, ``curation_funnel`` and
  ``training_layout`` share them.
* ``dedup.simhash_pairs`` — the simhash near-dup pair table
  (localCheckpointed); ``dedup_simhash_pairs``, ``dedup_components`` and
  ``dedup_family_keep_best`` mine the identical pair graph.
* ``bpe.train`` — the BPE merge table and final segmentation
  (localCheckpointed); ``bpe_fertility`` reuses ``bpe_train``'s loop.

The one rule: each name holds one live entry, keyed on
``(applicationId, key)``. A hit returns the stored object itself. A new
key or a new application replaces the entry, and the old entry is
released by calling ``unpersist()`` on every DataFrame it holds (a no-op
for localCheckpointed frames, whose blocks the ContextCleaner frees once
they are unreferenced). Keys compare with ``==``, so a DataFrame inside a
key matches only itself, and the entry's reference keeps it alive.

Tools that rewrite an input directory mid-session, or time a query cold
more than once, call ``clear()`` first.
"""

from __future__ import annotations

from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

_ENTRIES: dict[str, tuple[tuple, Any]] = {}


def _release(value: Any) -> None:
    if isinstance(value, DataFrame):
        try:
            value.unpersist()
        except Exception:
            pass  # a frame of a stopped application has nothing to free
    elif isinstance(value, dict):
        for v in value.values():
            _release(v)
    elif isinstance(value, (tuple, list)):
        for v in value:
            _release(v)


def memo(spark: SparkSession, name: str, key: Any, build: Callable[[], Any]) -> Any:
    """The live entry of `name` if it was built for this application and
    `key`; otherwise release it, call `build()` and keep its result."""
    full_key = (spark.sparkContext.applicationId, key)
    entry = _ENTRIES.get(name)
    if entry is not None:
        if entry[0] == full_key:
            return entry[1]
        del _ENTRIES[name]
        _release(entry[1])
    value = build()
    _ENTRIES[name] = (full_key, value)
    return value


def clear() -> None:
    """Release and drop every entry."""
    while _ENTRIES:
        _release(_ENTRIES.popitem()[1][1])
